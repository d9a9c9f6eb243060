"""Seeded input generator for the benchmark.

Writes the suite tables the workloads read (TPC-H-shaped star schema and
``documents``) with the column names and types the suite queries read,
plus the two ``ingest_egress`` files: a CSV with dirty typing
(EU thousands decimals, ``%`` values, multilingual booleans, sentinel nulls)
and a JSONL file with nested fields.  The same seed gives byte-identical
files.  The totals the output checks compare against are computed here, from
the generated values, and stored in ``manifest.json``.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Scale of the TPC-H tables, as a TPC-H scale factor (lineitem = 6M x SF).
SF = 0.01
# The documents table is sized on its own: at 500 documents a curation pass
# was mostly driver-side JVM work (1.7 executor CPU-s against 11.3); at
# 4,000 the executor task threads take the largest share of a pass's CPU,
# and a run still fits its time budget.
DOCS = 4_000
CSV_ROWS = 40_000
JSONL_ROWS = 15_000

_EPOCH = np.datetime64("1970-01-01T00:00:00", "us")
_WORDS = (
    "a the data query table row column key value join group order sort "
    "hash merge scan filter window stream batch spark vector line part "
    "customer agg big small fast slow"
).split()
_LANGS = np.array(["en", "de", "fr", "es", "zh"])
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_COUNTRIES = ["Deutschland", "Österreich", "España", "France", "Italia",
              "Polska", "Hrvatska", "Srbija", "Nederland", "Sverige"]
_TRUE_WORDS = ["yes", "Yes", "true", "TRUE", "da", "Da"]
_FALSE_WORDS = ["no", "No", "false", "FALSE", "ne", "Ne"]
_NULL_WORDS = ["", "N/A", "null", "-", "?"]


def _ts(days: np.ndarray, start: str) -> pa.Array:
    base = np.datetime64(start, "us")
    return pa.array((base + (days * 86_400_000_000).astype("timedelta64[us]")),
                    type=pa.timestamp("us"))


def _write(out: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _suite_tables(rng: np.random.Generator, out: str) -> None:
    n_cust, n_supp, n_part = int(150_000 * SF), int(10_000 * SF), int(200_000 * SF)
    n_ord, n_li = int(1_500_000 * SF), int(6_000_000 * SF)
    n_doc = DOCS

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust)})
    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    colors = rng.choice(["red", "blue", "green", "small", "large", "steel"], n_part)
    nouns = rng.choice(["ring", "widget", "bolt", "gear", "valve", "pipe"], n_part)
    _write(out, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{c} {n}" for c, n in zip(colors, nouns)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], n_part),
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)})
    _write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
        "o_orderdate": _ts(rng.integers(0, 2404, n_ord), "1995-01-01"),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    _write(out, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li, dtype=np.int64),
        "l_partkey": rng.integers(0, n_part, n_li, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n_li, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105_000, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _ts(rng.integers(0, 2499, n_li), "1995-01-02")})

    # Documents: bag-of-words text over a 30-word vocabulary; exactly 5% are
    # near-duplicates (an earlier document plus one or two " dup" tokens),
    # so the dedup operators have pairs to find and every seed gives them
    # the same amount of work.
    dups = set(rng.choice(np.arange(1, n_doc), n_doc // 20, replace=False).tolist())
    texts: list[str] = []
    for i in range(n_doc):
        if i in dups:
            src = texts[int(rng.integers(0, i))]
            texts.append(src + " dup" * (1 + i % 2))
        else:
            n_words = int(rng.integers(8, 96))
            texts.append(" ".join(rng.choice(_WORDS, n_words)))
    _write(out, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, n_doc, p=_LANG_P),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})


def _eu_amount(cents: int) -> str:
    whole, frac = divmod(cents, 100)
    return f"{whole:,}".replace(",", ".") + f",{frac:02d}"


def _ingest_files(rng: np.random.Generator, out: str) -> dict:
    """Write ``ingest.csv`` and ``ingest.jsonl``; return the totals the
    read-back checks compare against."""
    n = CSV_ROWS
    cents = rng.integers(100_000, 100_000_000, n)     # 1.000,00 .. 999.999,99
    amount_null = rng.random(n) < 0.04
    pct = rng.integers(0, 1000, n)                     # tenths of a percent
    active = rng.random(n) < 0.6
    active_null = rng.random(n) < 0.03
    country = rng.integers(0, len(_COUNTRIES), n)
    day = rng.integers(0, 365, n)
    with open(os.path.join(out, "ingest.csv"), "w", encoding="utf-8") as f:
        f.write("Order ID,Amount EUR,Discount,Active,Country,Created,Note\n")
        for i in range(n):
            amount = (_NULL_WORDS[i % len(_NULL_WORDS)] if amount_null[i]
                      else _eu_amount(int(cents[i])))
            flag = ("N/A" if active_null[i] else
                    (_TRUE_WORDS if active[i] else _FALSE_WORDS)[i % 6])
            created = np.datetime64("2024-01-01") + int(day[i])
            # a few notes span two lines, so the multiLine CSV path is used
            note = f'"row {i}, ""ok""' + ('\nsecond line"' if i % 997 == 500 else '"')
            f.write(f'{i},"{amount}","{pct[i] // 10},{pct[i] % 10}%",{flag},'
                    f'{_COUNTRIES[country[i]]},{created},{note}\n')
    users = rng.integers(0, 2000, JSONL_ROWS)
    clicks = rng.integers(0, 500, JSONL_ROWS)
    with open(os.path.join(out, "ingest.jsonl"), "w", encoding="utf-8") as f:
        for i in range(JSONL_ROWS):
            rec = {"event_id": i,
                   "user": {"id": int(users[i]), "tier": ["free", "pro"][i % 2]},
                   "tags": [_WORDS[(i + k) % len(_WORDS)] for k in range(i % 4)],
                   "metrics": {"clicks": int(clicks[i]), "ratio": round(
                       float(clicks[i]) / 500.0, 4)},
                   "country": _COUNTRIES[int(users[i]) % len(_COUNTRIES)]}
            f.write(json.dumps(rec, ensure_ascii=False) + "\n")
    kept = ~amount_null
    return {"csv_rows": n, "csv_amount_cents": int(cents[kept].sum()),
            "csv_active_true": int((active & ~active_null).sum()),
            "csv_countries": len(set(country.tolist())),
            "jsonl_rows": JSONL_ROWS, "jsonl_event_id_sum": JSONL_ROWS * (JSONL_ROWS - 1) // 2}


def ensure_inputs(root: str, seed: int) -> tuple[str, dict]:
    """Return ``(directory, manifest)`` for ``seed``, generating the files
    on first use.  Generation writes to a temporary sibling and renames it
    into place, so an interrupted run never leaves a partial input set."""
    out = os.path.join(root, f"seed-{seed}")
    manifest_path = os.path.join(out, "manifest.json")
    params = {"sf": SF, "docs": DOCS, "csv_rows": CSV_ROWS,
              "jsonl_rows": JSONL_ROWS}
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            manifest = json.load(f)
        if all(manifest.get(k) == v for k, v in params.items()):
            return out, manifest
        shutil.rmtree(out)   # made by a generator of other sizes
    tmp = f"{out}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    t0 = time.perf_counter()
    rng = np.random.default_rng(seed % 2**64)   # any integer seed, negative too
    _suite_tables(rng, tmp)
    totals = _ingest_files(rng, tmp)
    manifest = {"seed": seed, **params, "totals": totals,
                "generate_s": time.perf_counter() - t0}
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1)
    try:
        os.rename(tmp, out)
    except OSError:  # another process generated the same seed first
        shutil.rmtree(tmp, ignore_errors=True)
    with open(manifest_path) as f:
        return out, json.load(f)
