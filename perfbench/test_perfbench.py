"""Tests for the benchmark's own arithmetic.

Run from the repository root: ``python -m pytest perfbench -q``.
"""

from __future__ import annotations

import json
import os

import pytest

import measure
import run
import spans
import workloads

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# ------------------------------------------------------------ percentiles

def test_percentile_interpolates_between_order_statistics():
    xs = [float(i) for i in range(1, 11)]
    assert measure.percentile(xs, 50) == 5.5
    assert measure.percentile(xs, 0) == 1.0
    assert measure.percentile(xs, 100) == 10.0
    assert measure.percentile(list(reversed(xs)), 90) == pytest.approx(9.1)
    assert measure.median([3.0]) == 3.0
    with pytest.raises(ValueError):
        measure.percentile([], 50)


@pytest.mark.parametrize("n,q,beyond,ok", [
    (100, 90, 10, True), (99, 90, 9, False), (40, 75, 10, True),
    (39, 75, 9, False), (20, 50, 10, True), (10, 90, 1, False),
])
def test_tail_needs_ten_samples_beyond(n, q, beyond, ok):
    assert measure.samples_beyond(n, q) == beyond
    assert measure.tail_is_supported(n, q) is ok


# --------------------------------------------------- /proc tree attribution

def _proc(pid, ppid, comm, ut=0, st=0, cut=0, cst=0, rss=0, hwm=0):
    return measure.Proc(pid, ppid, comm, ut, st, cut, cst, rss, hwm)


def _table():
    t = measure.CLK_TCK
    return {p.pid: p for p in [
        _proc(1, 0, "init", 50 * t),                         # outside the tree
        _proc(100, 1, "python3", 2 * t, 1 * t),              # the benchmark
        _proc(200, 100, "java", 30 * t, 5 * t, 1 * t, 0, 900_000, 1_500_000),
        _proc(300, 200, "python3", 1 * t, 0, 6 * t, 2 * t, 40_000),  # daemon
        _proc(301, 300, "python3", 3 * t, 1 * t, 0, 0, 60_000),      # worker
        _proc(400, 1, "java", 99 * t),                       # someone else's JVM
    ]}


def test_tree_cpu_splits_driver_jvm_and_workers():
    cpu = measure.tree_cpu(_table(), 100)
    assert cpu["driver"] == pytest.approx(3.0)
    assert cpu["jvm"] == pytest.approx(35.0)
    # live daemon + live worker + workers the daemon reaped + JVM's reaped child
    assert cpu["python_worker"] == pytest.approx(1 + 4 + 8 + 1)


def test_tree_classification_and_rss():
    labels = measure.classify(_table(), 100)
    assert labels == {100: "driver", 200: "jvm", 300: "python_worker",
                      301: "python_worker"}
    # JVM high-water mark plus the workers' current RSS
    assert measure.tree_rss_mb(_table(), 100) == pytest.approx(
        (1_500_000 + 40_000 + 60_000) / 1024)


def test_parse_stat_handles_spaces_and_parens_in_comm():
    fields = " ".join(str(i) for i in range(4, 53))   # field n holds n
    ppid, comm, ut, st, cut, cst, start = measure.parse_stat(
        f"4242 (py (worker) x) S {fields}")
    assert comm == "py (worker) x"
    assert (ppid, ut, st, cut, cst, start) == (4, 14, 15, 16, 17, 22)


def test_live_tree_contains_this_process():
    table = measure.read_proc_table(os.getpid(), with_memory=True)
    assert table[os.getpid()].rss_kb > 0
    assert measure.process_age_s(os.getpid()) > 0


# ------------------------------------------------------ stage aggregation

def _row(**kw):
    row = {k: 0.0 for k in measure.STAGE_FIELDS}
    row.update(kw)
    return row


def test_aggregate_counts_shared_stage_once_and_skips_absent():
    jobs = {1: [10, 11], 2: [11, 12]}          # stage 11 shared, 12 skipped
    stages = {10: _row(tasks=4, executor_cpu_s=1.0), 11: _row(tasks=2, executor_cpu_s=0.5)}
    out = measure.aggregate_stages(jobs, stages)
    assert out["jobs"] == 2 and out["stages"] == 2
    assert out["tasks"] == 6 and out["executor_cpu_s"] == 1.5


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (SparkSession.builder.master("local[2]").appName("perfbench-test")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.shuffle.partitions", "2").getOrCreate())
    yield s
    s.stop()


def test_status_store_groups_do_not_sum_across_passes(spark):
    sc = spark.sparkContext
    totals = []
    for p in range(2):
        tag = f"perfbench-test-{p}"
        sc.setJobGroup(tag, "tiny")
        spark.range(0, 1000, 1, 4).selectExpr("id % 7 AS k").groupBy("k").count().collect()
        sc.setLocalProperty("spark.jobGroup.id", None)
        totals.append(measure.aggregate_stages(*measure.read_group(sc, tag)))
    first, second = totals
    assert first["jobs"] >= 1 and first["tasks"] >= 4
    # a reused group would report both passes' work under the second tag
    assert second["tasks"] == first["tasks"]
    assert second["jobs"] == first["jobs"]
    assert second["failed_tasks"] == 0
    assert measure.read_group(sc, "perfbench-test-unused") == ({}, {})


def test_group_job_count_sees_a_job_as_soon_as_it_has_finished(spark):
    sc = spark.sparkContext
    tag = "perfbench-test-count"
    sc.setJobGroup(tag, "tiny")
    spark.range(0, 100, 1, 2).count()
    sc.setLocalProperty("spark.jobGroup.id", None)
    assert measure.count_group_jobs(sc, tag) == len(measure.read_group(sc, tag)[0]) >= 1


def test_core_util_divides_by_execute_wall_only():
    layer = {"spark.executor_run_s": 4.0}
    p = run.PassRecord(9.0, {"jvm": 1.0}, [
        run.OpRecord("a", 2.0, 1.0, None, layer),
        run.OpRecord("b", 2.0, 3.0, None, layer)], True)
    out = run.per_layer([p], [p], cores=4)
    assert out["spark.core_util"][0] == pytest.approx(8.0 / (4.0 * 4))


def test_sampled_oracle_reads_only_the_sample():
    for name in workloads.PER_DOC_SAMPLED:
        sql = workloads._oracle_sql(name)
        assert "FROM documents_sample" in sql
        assert "FROM documents " not in sql and "FROM documents," not in sql


# ------------------------------------------------------------------ spans

def test_self_time_subtracts_covered_child_intervals():
    s = [spans.Span(1, None, "t", "op", "op", 0.0, 10.0),
         spans.Span(2, 1, "t", "load", "sources", 1.0, 4.0),
         spans.Span(3, 1, "t", "load", "sources", 3.0, 6.0),   # overlaps 2
         spans.Span(4, 3, "t", "inner", "sources", 3.5, 5.0)]
    selfs = spans.self_times(s)
    assert selfs[1] == pytest.approx(5.0)
    assert selfs[3] == pytest.approx(1.5)
    assert spans.layer_time(s, "sources") == pytest.approx(5.0)
    assert spans.union_length([]) == 0.0


def test_installed_wrappers_are_restored():
    import elusion_spark.sources.loaders as loaders
    from elusion_spark.dataframe import CustomDataFrame

    before = (loaders.load_parquet, CustomDataFrame.__dict__["to_spark"])
    tracer = spans.Tracer()
    with spans.Installed(tracer, spans.layer_targets()):
        assert loaders.load_parquet is not before[0]
    assert (loaders.load_parquet, CustomDataFrame.__dict__["to_spark"]) == before


# ----------------------------------------------------- BENCHMARK.json sync

def test_benchmark_json_matches_the_runner():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert [w["name"] for w in bench["workloads"]] == list(workloads.WORKLOADS)
    assert [m["name"] for m in bench["per_layer"]] == run.per_layer_names()
    e2e = run.end_to_end([run.PassRecord(1.0, {"jvm": 1.0}, [
        run.OpRecord("x", 0.1, 0.2, None)], False)], 1.0, 1.0)
    assert [m["name"] for m in bench["end_to_end"]] == list(e2e)
    assert [m["unit"] for m in bench["end_to_end"]] == [u for _, u, _ in e2e.values()]
