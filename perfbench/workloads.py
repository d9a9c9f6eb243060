"""The benchmark's workloads: which operations one pass runs, and how each
operation is built, executed and checked.

An operation has two timed phases.  ``build`` calls the library until a
DataFrame comes back (loaders, builder assembly, operators; Spark runs only
the jobs the library itself triggers, such as schema inference).
``execute`` runs the action: suite queries go to Spark's ``noop`` sink, the
ingest steps to the library's writers.  With ``check=True`` (the untimed
warm pass) ``execute`` also verifies the output and returns a description
of any mismatch.
"""

from __future__ import annotations

import math
import os
import random
import shutil
import sys
from dataclasses import dataclass, field
from decimal import Decimal
from typing import Callable

# Short lists: every run pays a fresh JVM and a cold warm pass over each
# operation shape (README.md, "Why the workloads are this small").  q115
# makes eight loader calls; q01 is also the query behind the cache trio.
RELATIONAL = ["q01_pricing_summary", "q115_market_share"]
CACHE_OPS = ["q01_cache_miss", "q01_cache_hit", "q01_cache_hit"]
CURATION = ["q64_repetition_signals", "q166_token_ids"]
SUITE_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
                "lineitem", "documents"]
# Suite queries that emit one row per document, computed from that document
# alone.  Their oracle runs over every SAMPLE_EVERY-th document: q64's
# oracle over every fifth of 5,000 documents took 13 CPU-s, so the full one
# would cost more than the rest of a curation run's set-up.  The output's row count is checked against the
# document count, and the sampled documents' rows exactly.
PER_DOC_SAMPLED = {"q64_repetition_signals"}
SAMPLE_EVERY = 5


@dataclass
class Ctx:
    spark: object
    data: str                   # generated input directory
    totals: dict                # what the generator knows about its files
    out: str                    # where the ingest steps write
    state: dict = field(default_factory=dict)   # per-pass intermediate results
    _duck: object = None
    _pool: object = None
    _cursor: object = None
    _oracles: dict = field(default_factory=dict)   # suite name -> Future

    def duck(self):
        if self._duck is None:
            import duckdb

            # One thread: the oracles run beside the Spark session's start
            # and warm pass, and should not take its cores.
            self._duck = duckdb.connect(config={"threads": 1})
            for t in SUITE_TABLES:
                self._duck.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                   f"'{self.data}/{t}.parquet'")
            self._duck.execute("CREATE VIEW documents_sample AS SELECT * FROM "
                               f"documents WHERE doc_id % {SAMPLE_EVERY} = 0")
        return self._duck

    def prefetch_oracles(self, names: list[str]) -> None:
        """Run the DuckDB oracles of ``names`` on a background thread, so
        they overlap the Spark session's start and warm pass instead of
        adding to them."""
        from concurrent.futures import ThreadPoolExecutor

        self._cursor = self.duck().cursor()   # own connection, same views
        self._pool = ThreadPoolExecutor(1, thread_name_prefix="oracle")
        for name in names:
            self._oracles[name] = self._pool.submit(
                _oracle_result, self._cursor, _oracle_sql(name))

    def oracle(self, name: str) -> tuple[list[str], list[tuple]]:
        """``(columns, rows)`` of the suite oracle ``name`` (sampled for
        ``PER_DOC_SAMPLED`` queries)."""
        if name in self._oracles:
            return self._oracles[name].result()
        return _oracle_result(self.duck(), _oracle_sql(name))

    def close(self):
        if self._pool is not None:
            self._pool.shutdown(wait=True, cancel_futures=True)
            self._cursor.close()
            self._pool = self._cursor = None
        if self._duck is not None:
            self._duck.close()
            self._duck = None


@dataclass(frozen=True)
class Op:
    name: str
    build: Callable[[Ctx], object]
    execute: Callable[[Ctx, object, bool], str | None]


# ------------------------------------------------------- output comparison

def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, Decimal):
        return float(v)
    return v


def _rowset(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm_cell(r[i]) for i in idx) for r in rows]
    return sorted(cols), sorted(out, key=lambda t: tuple(str(x) for x in t))


_DECIMAL_TO_DOUBLE = "DECIMAL(38,9))) AS DOUBLE)"


def _oracle_sql(name: str) -> str:
    from elusion_spark.suite import ORACLES

    sql = ORACLES[name]
    if name in PER_DOC_SAMPLED:
        sql = sql.replace("FROM documents", "FROM documents_sample")
    return sql


def _oracle_result(con, sql: str) -> tuple[list[str], list[tuple]]:
    res = con.execute(sql)
    return [d[0].lower() for d in res.description], res.fetchall()


def _mismatch(scols, srows, ocols, orows, double_cols=()) -> str | None:
    if sorted(scols) != sorted(ocols):
        return f"columns {sorted(scols)} != oracle {sorted(ocols)}"
    if len(srows) != len(orows):
        return f"{len(srows)} rows != oracle {len(orows)}"
    conv = [i for i, c in enumerate(ocols) if c in double_cols]
    orows = [tuple(float(v) if i in conv and isinstance(v, str) else v
                   for i, v in enumerate(r)) for r in orows]
    bad = [(a, b) for a, b in zip(_rowset(scols, srows)[1],
                                  _rowset(ocols, orows)[1]) if a != b]
    if bad:
        return f"{len(bad)} rows differ from oracle; first: {bad[0]}"
    return None


def compare_with_oracle(ctx: Ctx, suite_name: str, df) -> str | None:
    """The comparison ``tests/test_oracle_parity.py`` makes: column names,
    row count, then order-insensitive exact values (for ``PER_DOC_SAMPLED``
    queries: the row count against the document count, then the sampled
    documents' rows).

    One known flaw of the references is handled without loosening the
    comparison: DuckDB casts an exact ``DECIMAL(38,9)`` sum to ``DOUBLE``
    through an integer conversion that can land one ulp away from the
    nearest double when the sum is large (q01's ``sum_charge`` on many
    seeds).  On a mismatch, such oracles are re-run with the sums as exact
    decimal text, rounded to the nearest double by Python; output that then
    matches exactly passes, and the oracle's error is reported on
    stderr."""
    import duckdb

    scols = [c.lower() for c in df.columns]
    srows = [tuple(r) for r in df.collect()]
    if suite_name in PER_DOC_SAMPLED:
        n_docs = ctx.duck().execute("SELECT COUNT(*) FROM documents").fetchone()[0]
        if len(srows) != n_docs:
            return f"{len(srows)} rows != {n_docs} documents"
        i = scols.index("doc_id")
        srows = [r for r in srows if r[i] % SAMPLE_EVERY == 0]
    sql = _oracle_sql(suite_name)
    err = _mismatch(scols, srows, *ctx.oracle(suite_name))
    if err is None or _DECIMAL_TO_DOUBLE not in sql:
        return err
    try:
        exact = _oracle_result(ctx.duck(), sql.replace(
            _DECIMAL_TO_DOUBLE, "DECIMAL(38,9))) AS VARCHAR)"))
    except duckdb.Error:
        return err
    doubles = {c.lower() for c, t in df.dtypes if t == "double"}
    if _mismatch(scols, srows, *exact, doubles) is not None:
        return err
    print(f"perfbench: {suite_name}: the suite oracle's DECIMAL->DOUBLE cast "
          f"is off ({err}); the output equals the correctly rounded exact "
          "sums", file=sys.stderr)
    return None


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# ------------------------------------------------------------ suite queries

def suite_op(name: str) -> Op:
    def build(ctx):
        from elusion_spark.suite import QUERIES

        return QUERIES[name](ctx.spark, ctx.data)

    def execute(ctx, df, check):
        if check:
            return compare_with_oracle(ctx, name, df)
        _noop(df)
        return None

    return Op(name, build, execute)


def cache_op(name: str) -> Op:
    """q01 through ``cache.cached_elusion``; the hit rebuilds the query
    from scratch, so the canonical-plan key (not object identity) must
    match."""
    expect = "misses" if name.endswith("miss") else "hits"

    def build(ctx):
        from elusion_spark.cache import cache_stats, cached_elusion
        from elusion_spark.dataframe import CustomDataFrame
        from elusion_spark.suite import QUERIES

        before = cache_stats()
        cdf = CustomDataFrame(QUERIES["q01_pricing_summary"](ctx.spark, ctx.data),
                              "bench_c1")
        df = cached_elusion(cdf, "bench_c1").df
        ctx.state["cache_lookup"] = (
            "hits" if cache_stats()["hits"] > before["hits"] else "misses")
        return df

    def execute(ctx, df, check):
        if check:
            if ctx.state["cache_lookup"] != expect:
                return f"cache lookup was a {ctx.state['cache_lookup'][:-1]}"
            return compare_with_oracle(ctx, "q01_pricing_summary", df)
        _noop(df)
        return None

    return Op(name, build, execute)


# ---------------------------------------------------------- ingest / egress

def _ingest_ops() -> list[Op]:
    from elusion_spark.sinks import writers as W
    from elusion_spark.sources import loaders as L

    def load_csv(ctx):
        ctx.state["csv"] = L.load_csv(f"{ctx.data}/ingest.csv", "ingest_csv",
                                      ctx.spark)

    def check_csv(ctx, _df, check):
        if not check:
            return None
        types = dict(ctx.state["csv"].df.dtypes)
        want = {"order_id": "bigint", "amount_eur": "double",
                "discount": "double", "active": "boolean"}
        got = {k: types.get(k) for k in want}
        return None if got == want else f"inferred types {got} != {want}"

    def load_json(ctx):
        ctx.state["json"] = L.load_json(f"{ctx.data}/ingest.jsonl",
                                        "ingest_json", ctx.spark)

    def check_json(ctx, _df, check):
        if not check:
            return None
        types = dict(ctx.state["json"].df.dtypes)
        nested = {k: types.get(k) for k in ("user", "tags", "metrics")}
        return (None if set(nested.values()) == {"string"}
                else f"nested fields not stringified: {nested}")

    def aggregate(ctx):
        ctx.state["agg"] = (
            ctx.state["csv"].select(["country"])
            .agg(["CAST(COUNT(*) AS BIGINT) AS n",
                  "CAST(SUM(CAST(amount_eur AS DECIMAL(18,2))) AS DECIMAL(18,2))"
                  " AS amount",
                  "CAST(SUM(CASE WHEN active THEN 1 ELSE 0 END) AS BIGINT)"
                  " AS n_active",
                  "AVG(discount) AS avg_discount"])
            .group_by_all()
            .elusion("ingest_agg"))

    def check_agg(ctx, _df, check):
        if not check:
            return None
        rows = ctx.state["agg"].df.collect()
        t = ctx.totals
        got = (len(rows), sum(r["n"] for r in rows),
               int(sum(r["amount"] for r in rows if r["amount"] is not None) * 100),
               sum(r["n_active"] for r in rows))
        want = (t["csv_countries"], t["csv_rows"], t["csv_amount_cents"],
                t["csv_active_true"])
        return None if got == want else f"aggregate {got} != generated {want}"

    def to_parquet_build(ctx):
        return ctx.state["csv"].to_spark()

    def to_parquet(ctx, df, check):
        W.write_to_parquet(df, "overwrite", f"{ctx.out}/csv_parquet")

    def to_delta_build(ctx):
        return ctx.state["json"].to_spark()

    def to_delta(ctx, df, check):
        path = f"{ctx.out}/json_delta"
        W.write_to_delta(df, "overwrite", path)
        W.write_to_delta(df, "append", path)
        if not check:
            return None
        back = L.load_delta(path, "delta_back", ctx.spark).df
        row = back.selectExpr("COUNT(*) AS n", "SUM(event_id) AS s").first()
        t = ctx.totals
        want = (2 * t["jsonl_rows"], 2 * t["jsonl_event_id_sum"])
        return None if (row["n"], row["s"]) == want else (
            f"delta read-back {(row['n'], row['s'])} != {want}")

    def to_csv_build(ctx):
        return ctx.state["agg"].to_spark()

    def to_csv(ctx, df, check):
        path = f"{ctx.out}/aggregate.csv"
        W.write_to_csv(df, "overwrite", path)
        if not check:
            return None
        with open(path, encoding="utf-8") as fh:
            lines = sum(1 for _ in fh)
        want = ctx.totals["csv_countries"] + 1
        return None if lines == want else f"csv has {lines} lines, want {want}"

    def readback_build(ctx):
        back = L.load_parquet(f"{ctx.out}/csv_parquet", "readback", ctx.spark)
        return back.df.selectExpr(
            "COUNT(*) AS n",
            "CAST(SUM(CAST(amount_eur AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents")

    def readback(ctx, df, check):
        # Checked on every pass: the read-back is this step's action.
        row = df.first()
        want = (ctx.totals["csv_rows"], ctx.totals["csv_amount_cents"])
        return None if (row["n"], row["cents"]) == want else (
            f"parquet read-back {(row['n'], row['cents'])} != {want}")

    return [
        Op("load_csv", load_csv, check_csv),
        Op("load_json", load_json, check_json),
        Op("aggregate", aggregate, check_agg),
        Op("write_to_parquet", to_parquet_build, to_parquet),
        Op("write_to_delta", to_delta_build, to_delta),
        Op("write_to_csv", to_csv_build, to_csv),
        Op("load_parquet", readback_build, readback),
    ]


# -------------------------------------------------------------- pass order

@dataclass(frozen=True)
class Workload:
    name: str
    # ``(operations, shuffled)`` groups run in sequence; the seed shuffles
    # the operations of a shuffled group, once per pass.
    groups: Callable[[], list[tuple[list[Op], bool]]]

    def pass_ops(self, seed: int, pass_no: int) -> list[Op]:
        rng = random.Random(f"{self.name}:{seed}:{pass_no}")
        ops: list[Op] = []
        for group, shuffled in self.groups():
            group = list(group)
            if shuffled:
                rng.shuffle(group)
            ops.extend(group)
        return ops

    def op_names(self) -> list[str]:
        return sorted({op.name for g, _ in self.groups() for op in g})


def _ingest_groups():
    ops = {op.name: op for op in _ingest_ops()}
    return [([ops["load_csv"], ops["load_json"]], True),
            ([ops["aggregate"]], False),
            ([ops["write_to_parquet"], ops["write_to_delta"],
              ops["write_to_csv"]], True),
            ([ops["load_parquet"]], False)]


WORKLOADS = {
    "relational": Workload("relational", lambda: [
        ([suite_op(n) for n in RELATIONAL], True),
        ([cache_op(n) for n in CACHE_OPS], False),   # miss, then two hits
        *_ingest_groups()]),
    "curation": Workload("curation", lambda: [
        ([suite_op(n) for n in CURATION], True)]),
}


def start_pass(ctx: Ctx) -> None:
    """Reset what one pass may leave behind: the library's query cache,
    Spark's cached blocks and the ingest outputs (so the Delta log does not
    grow across passes)."""
    from elusion_spark.cache import clear_cache

    clear_cache()
    ctx.spark.catalog.clearCache()
    ctx.state.clear()
    shutil.rmtree(ctx.out, ignore_errors=True)
    os.makedirs(ctx.out)
