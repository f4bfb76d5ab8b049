"""Tests of the benchmark's own machinery (not of the engine).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import threading

import pyarrow.parquet as pq
import pytest

import gen
import run
from metrics import TAIL_MIN_SAMPLES, geomean, percentile, result_line, tail_percentile
from tracing import assign_jobs, find_event_log, op_breakdown, parse_event_log

BENCHMARK_JSON = os.path.join(run.ROOT, "BENCHMARK.json")


def test_result_line_prints_every_metric_with_its_unit():
    values = {name: (float(i) + 0.5, unit) for i, (name, unit) in enumerate(run.E2E_UNITS.items())}
    line = json.loads(result_line(True, 12, 1, values))
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["attempted"] == 12 and line["failed"] == 1
    for name, unit in run.E2E_UNITS.items():
        assert line["metrics"][name] == {"value": values[name][0], "unit": unit}


def test_metric_tables_match_benchmark_json():
    with open(BENCHMARK_JSON) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.layer_units()
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)


def test_tail_percentile_needs_enough_samples_beyond_it():
    # 10 samples beyond p90 needs about 100 samples in all
    few = [float(i) for i in range(60)]
    assert percentile(few, 90) > 0
    assert tail_percentile(few, 90) is None
    many = [float(i) for i in range(110)]
    beyond = sum(1 for v in many if v > percentile(many, 90))
    assert beyond >= TAIL_MIN_SAMPLES
    assert tail_percentile(many, 90) == pytest.approx(percentile(many, 90))
    assert tail_percentile([], 90) is None


def test_geomean_weighs_every_op_the_same():
    assert geomean([100.0, 400.0]) == pytest.approx(200.0)
    # doubling any one of four ops moves the figure by the same factor
    base = geomean([100.0, 200.0, 400.0, 800.0])
    assert geomean([200.0, 200.0, 400.0, 800.0]) / base == pytest.approx(2 ** 0.25)
    assert geomean([100.0, 200.0, 400.0, 1600.0]) / base == pytest.approx(2 ** 0.25)
    with pytest.raises(ValueError):
        geomean([])


def test_cycle_order_keeps_fixed_ops_first_and_shuffles_the_rest():
    wl = run.WORKLOADS["dashboard_stream"]
    loop = run.Loop(None, wl, "", seed=5, scratch="")
    first = loop.order()
    fixed = [name for name in wl.ops if name not in wl.shuffled]
    assert first[:len(fixed)] == fixed
    assert sorted(first[len(fixed):]) == sorted(wl.shuffled)
    assert run.Loop(None, wl, "", seed=5, scratch="").order() == first


def _job(jid, t0, t1, group=None):
    return {"id": jid, "t0": t0, "t1": t1, "group": group, "failed": False, "stages": 1,
            "tasks": 1, "tasks_failed": 0, "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
            "deser_s": 0.0, "fetch_wait_s": 0.0, "shuffle_read": 0, "shuffle_write": 0,
            "spill": 0, "input_bytes": 0, "input_rows": 0}


def test_assign_jobs_counts_jobs_without_the_op_group():
    ops = [{"name": "a", "group": "g:a", "t0": 10.0, "build_t1": 11.0, "t1": 14.0},
           {"name": "b", "group": "g:b", "t0": 20.0, "build_t1": 20.5, "t1": 22.0}]
    jobs = [_job(0, 10.2, 10.8, "g:a"),          # built eagerly, grouped
            _job(1, 12.0, 13.0, "g:a"),
            _job(2, 12.5, 13.5, None),           # a helper thread's job
            _job(3, 20.6, 21.0, "stream-run-1"),  # a stream started by op b
            _job(4, 30.0, 31.0, None)]           # outside every op
    unattributed = assign_jobs(ops, jobs, {"stream-run-1": ops[1]})
    assert unattributed == 1
    assert [j["id"] for j in ops[0]["jobs"]] == [0, 1, 2]
    assert [j["id"] for j in ops[1]["jobs"]] == [3]
    a = op_breakdown(ops[0])
    assert a["build_jobs"] == 1 and a["jobs"] == 3
    assert a["job_span_ms"] == pytest.approx(600 + 1500)
    assert a["build_ms"] + a["post_build_job_ms"] + a["post_build_outside_ms"] == \
        pytest.approx(a["wall_ms"])


@pytest.fixture(scope="module")
def event_log(tmp_path_factory):
    """A tiny job-grouped Spark run: two jobs in an op's group, one from a
    plain thread (which does not inherit the group), one ungrouped."""
    from pyspark.sql import SparkSession

    log_dir = tmp_path_factory.mktemp("eventlog")
    spark = (SparkSession.builder.master("local[2]").appName("perfbench-test")
             .config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", f"file://{log_dir}")
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "true")
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    sc = spark.sparkContext
    sc.setJobGroup("perfbench:0:tiny", "tiny")
    spark.range(100, numPartitions=3).selectExpr("sum(id)").collect()
    spark.range(10).selectExpr("id % 2 AS k").groupBy("k").count().collect()
    worker = threading.Thread(target=lambda: spark.range(5).collect())
    worker.start()
    worker.join()
    sc.setLocalProperty("spark.jobGroup.id", None)
    spark.range(7).collect()
    app_id = sc.applicationId
    spark.stop()
    return find_event_log(str(log_dir), app_id)


def test_event_log_parser_reads_a_job_grouped_run(event_log):
    jobs = parse_event_log(event_log)
    grouped = [j for j in jobs if j["group"] == "perfbench:0:tiny"]
    assert len(grouped) >= 2
    assert all(j["tasks"] >= 1 and j["stages"] >= 1 for j in grouped)
    assert all(j["t1"] >= j["t0"] > 0 for j in jobs)
    assert not any(j["failed"] for j in jobs)
    ungrouped = [j for j in jobs if j["group"] is None]
    assert len(ungrouped) >= 2  # the plain thread's job and the last one


def test_generator_is_deterministic_per_seed(tmp_path):
    a = gen.generate(str(tmp_path / "a"), 5, 0.001)
    b = gen.generate(str(tmp_path / "b"), 5, 0.001)
    c = gen.generate(str(tmp_path / "c"), 6, 0.001)
    for t in gen.TABLES:
        ta = pq.read_table(f"{a}/{t}.parquet")
        assert ta.equals(pq.read_table(f"{b}/{t}.parquet"))
        tc = pq.read_table(f"{c}/{t}.parquet")
        assert ta.num_rows == tc.num_rows
    # another seed permutes rows but keeps the (unshifted) documents
    docs = [sorted(pq.read_table(f"{d}/documents.parquet").column("text").to_pylist())
            for d in (a, c)]
    assert docs[0] == docs[1]
    assert pq.read_table(f"{a}/orders.parquet").column("o_orderkey") != \
        pq.read_table(f"{c}/orders.parquet").column("o_orderkey")
    assert gen.request_order(5, ["x", "y", "z"]) == gen.request_order(5, ["x", "y", "z"])
    assert sorted(gen.request_order(5, ["x", "y", "z"])) == ["x", "y", "z"]
