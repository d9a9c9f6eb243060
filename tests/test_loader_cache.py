"""The loaders' inference cache (sources/loaders.py): a repeat load of an
unchanged local file reads with the remembered schema and launches no
Spark job; any change of the file, of the inference confs or of a
racy mtime falls back to inference."""

import os
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq

from elusion_spark.sources import loaders as L

OLD = time.time() - 60  # mtime well outside the racy window


def _jobs(spark, fn):
    """``(result, n_jobs)``: the Spark jobs ``fn`` launched, counted in a
    job group of its own after the listener bus has drained."""
    sc = spark.sparkContext
    tag = f"loader-cache-{uuid.uuid4().hex}"
    sc.setJobGroup(tag, tag)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(tag))


def _age(path, when=OLD):
    os.utime(path, (when, when))


def _cached_paths():
    return {k[1] for k in L._INFERRED}


def test_repeat_load_launches_no_job(spark, tmp_path):
    pq_path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2, 3], "b": ["x", "y", "z"]}), pq_path)
    csv_path = tmp_path / "t.csv"
    csv_path.write_text("id;amount;flag\n1;1.234,5;yes\n2;2,5;no\n3;7;da\n")
    json_path = tmp_path / "t.jsonl"
    json_path.write_text('{"a":1,"n":{"x":2}}\n{"a":2,"n":{"x":3},"t":[1]}\n')
    loads = {
        "parquet": lambda: L.load_parquet(pq_path, "p", spark),
        "csv": lambda: L.load_csv(str(csv_path), "c", spark),
        "json": lambda: L.load_json(str(json_path), "j", spark),
    }
    for p in (pq_path, csv_path, json_path):
        _age(p)
    for kind, load in loads.items():
        first, n_first = _jobs(spark, load)
        second, n_second = _jobs(spark, load)
        assert n_first > 0, kind
        assert n_second == 0, kind
        assert second.df.schema == first.df.schema, kind
        assert sorted(second.df.collect()) == sorted(first.df.collect()), kind
    # typed CSV columns come from the remembered vote, nested JSON is
    # still stringified on a hit
    csv_types = dict(loads["csv"]().df.dtypes)
    assert csv_types == {"id": "bigint", "amount": "double", "flag": "boolean"}
    assert dict(loads["json"]().df.dtypes)["n"] == "string"
    # clear_cache() drops query results, not file metadata
    from elusion_spark.cache import clear_cache

    clear_cache()
    assert _jobs(spark, loads["parquet"])[1] == 0


def test_rewrite_with_new_schema_misses(spark, tmp_path):
    p = str(tmp_path / "r.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), p)
    _age(p, OLD - 10)
    assert L.load_parquet(p, "r", spark).df.columns == ["a"]
    pq.write_table(pa.table({"b": ["x"], "c": [1.5]}), p)
    _age(p)
    back, n = _jobs(spark, lambda: L.load_parquet(p, "r", spark))
    assert back.df.columns == ["b", "c"] and n > 0
    assert back.df.collect()[0]["b"] == "x"


def test_racy_same_size_rewrite_never_serves_stale_schema(
        spark, tmp_path, monkeypatch):
    """Two same-size versions of one file (same inode) stamped with the same
    whole-second mtime — what a filesystem with coarse timestamps records
    for a rewrite within its granularity — are told apart only by the racy
    guard: a file that recent is never cached.  The window is widened so
    that a slow host cannot age the file out of it mid-test."""
    monkeypatch.setattr(L, "_RACY_NS", 3600 * 10**9)
    now = time.time_ns() // 10**9 * 10**9
    csv_path = tmp_path / "racy.csv"
    json_path = tmp_path / "racy.jsonl"
    for text, cols in (("a,b\n1,2\n", ["a", "b"]), ("c,d\n1,2\n", ["c", "d"])):
        csv_path.write_text(text)
        os.utime(csv_path, ns=(now, now))
        assert L.load_csv(str(csv_path), "r", spark).df.columns == cols
    for text, col in (('{"a":1}\n', "a"), ('{"b":1}\n', "b")):
        json_path.write_text(text)
        os.utime(json_path, ns=(now, now))
        assert L.load_json(str(json_path), "r", spark).df.columns == [col]
    assert not {str(csv_path), str(json_path)} & _cached_paths()


def test_inference_conf_change_misses(spark, tmp_path):
    p = str(tmp_path / "bin.parquet")
    pq.write_table(pa.table({"k": pa.array([b"ab", b"cd"], pa.binary())}), p)
    _age(p)
    conf = "spark.sql.parquet.binaryAsString"
    prev = spark.conf.get(conf)
    try:
        spark.conf.set(conf, "false")
        assert dict(L.load_parquet(p, "b", spark).df.dtypes)["k"] == "binary"
        spark.conf.set(conf, "true")
        flipped, n = _jobs(spark, lambda: L.load_parquet(p, "b", spark))
        assert dict(flipped.df.dtypes)["k"] == "string" and n > 0
        assert sorted(r["k"] for r in flipped.df.collect()) == ["ab", "cd"]
    finally:
        spark.conf.set(conf, prev)


def test_nanos_and_partitioned_dir_load_as_before(spark, tmp_path):
    nanos = str(tmp_path / "nanos.parquet")
    ts = pa.array([1_700_000_000_123_456_789], pa.timestamp("ns"))
    pq.write_table(pa.table({"ts": ts, "v": [1]}), nanos, version="2.6")
    _age(nanos)
    hive = str(tmp_path / "hive")
    spark.createDataFrame([(1, "a"), (2, "b")], "v INT, part STRING") \
        .write.partitionBy("part").parquet(hive)
    _age(hive)
    for _ in range(2):
        n = L.load_parquet(nanos, "n", spark).df
        assert dict(n.dtypes)["ts"] == "timestamp"
        (row,) = n.selectExpr("unix_micros(ts) AS us").collect()
        assert row["us"] == 1_700_000_000_123_456
        h = L.load_parquet(hive, "h", spark).df
        assert sorted(map(tuple, h.select("v", "part").collect())) == [
            (1, "a"), (2, "b")]
    assert not {nanos, hive} & _cached_paths()


def test_unstatable_path_falls_back(spark, tmp_path):
    p = str(tmp_path / "u.parquet")
    pq.write_table(pa.table({"a": [7]}), p)
    _age(p)
    uri = "file://" + p
    for _ in range(2):
        back, n = _jobs(spark, lambda: L.load_parquet(uri, "u", spark))
        assert n > 0 and back.df.collect()[0]["a"] == 7
    assert uri not in _cached_paths()


def test_lru_bound_and_values_under_threads(monkeypatch):
    """More threads than cores storing and reading keys: the LRU stays
    within its bound and never returns another key's value."""
    import sys
    import threading
    from collections import OrderedDict

    monkeypatch.setattr(L, "_INFERRED", OrderedDict())
    monkeypatch.setattr(L, "_INFERRED_MAX", 32)
    wrong = []

    def work(t):
        for i in range(2000):
            key = ("k", (t * 7 + i) % 96)
            L._remember(key, key[1])
            got = L._recall(key)
            if got is not None and got != key[1]:
                wrong.append((key, got))

    prev = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work, args=(t,))
                   for t in range(4 * (os.cpu_count() or 1))]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=60)
    finally:
        sys.setswitchinterval(prev)
    assert not any(th.is_alive() for th in threads)
    assert not wrong and len(L._INFERRED) <= 32
