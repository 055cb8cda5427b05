"""Tests of the benchmark's own logic; none of them starts Spark.

Run: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import random

import pytest
from pyspark.errors.exceptions.captured import PythonException

from perfbench import eventlog, inputs, run, stats, workloads
from perfbench.tracing import Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _ev(kind, **kw):
    return json.dumps({"Event": kind, **kw})


def _task(stage, **accums):
    return _ev(
        "SparkListenerTaskEnd",
        **{"Stage ID": stage, "Task Info": {"Accumulables": [
            {"Name": k, "Update": v} for k, v in accums.items()
        ]}},
    )


def test_fold_attributes_tasks_to_job_groups():
    lines = [
        _ev("SparkListenerJobStart", **{
            "Job ID": 0, "Stage IDs": [0, 1],
            "Properties": {"spark.jobGroup.id": "write-seen"},
        }),
        _ev("SparkListenerJobStart", **{"Job ID": 1, "Stage IDs": [2], "Properties": {}}),
        _task(0, **{
            "internal.metrics.executorRunTime": 1500,
            "internal.metrics.executorCpuTime": 250_000_000,
            "internal.metrics.jvmGCTime": 100,
            "internal.metrics.shuffle.write.bytesWritten": 2**20,
        }),
        _task(1, **{
            "internal.metrics.executorRunTime": 500,
            "internal.metrics.shuffle.read.localBytesRead": 2**19,
            "internal.metrics.shuffle.read.remoteBytesRead": 2**19,
            "internal.metrics.diskBytesSpilled": 2**21,
        }),
        # SQL metrics arrive as strings
        _task(2, **{
            "internal.metrics.executorRunTime": 2000,
            "data sent to Python workers": str(3 * 2**20),
            "data returned from Python workers": str(2**20),
            "number of output rows": "99",
        }),
        _ev("SparkListenerStageCompleted", **{"Stage Info": {"Stage ID": 0}}),
        _ev("SparkListenerStageCompleted", **{"Stage Info": {"Stage ID": 1}}),
        _ev("SparkListenerStageCompleted", **{"Stage Info": {"Stage ID": 2}}),
        "",
    ]
    groups = eventlog.fold(lines)
    seen = groups["write-seen"]
    assert (seen["jobs"], seen["stages"], seen["tasks"]) == (1, 2, 2)
    assert seen["executor_run_s"] == pytest.approx(2.0)
    assert seen["executor_cpu_s"] == pytest.approx(0.25)
    assert seen["gc_s"] == pytest.approx(0.1)
    assert seen["shuffle_write_mb"] == pytest.approx(1.0)
    assert seen["shuffle_read_mb"] == pytest.approx(1.0)
    assert seen["spill_mb"] == pytest.approx(2.0)
    other = groups[eventlog.UNLABELLED]
    assert (other["jobs"], other["tasks"]) == (1, 1)
    assert other["python_sent_mb"] == pytest.approx(3.0)
    assert other["python_recv_mb"] == pytest.approx(1.0)
    assert eventlog.total(groups)["executor_run_s"] == pytest.approx(4.0)


def test_percentile_needs_ten_samples_beyond_it():
    with pytest.raises(stats.TooFewSamples):
        stats.percentile(list(range(99)), 90)
    assert stats.percentile(list(range(100)), 90) == 89  # ten lie beyond
    with pytest.raises(stats.TooFewSamples):
        stats.percentile([1.0, 2.0], 50)
    assert stats.percentile(list(range(20)), 50) == 9


def test_metric_names_are_well_formed_and_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == run.END_TO_END
    assert layer == run.per_layer_units()
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    for name in [*e2e, *layer, *(w["name"] for w in spec["workloads"])]:
        assert stats.check_metric_name(name) == name
    with pytest.raises(ValueError):
        stats.check_metric_name("bad name")


class _WorkerImportError(PythonException):
    """The error a Spark action raises when an Arrow UDF's worker cannot
    import the program (built without a JVM, which the real class needs)."""

    def __init__(self, msg):
        Exception.__init__(self, msg)

    def __str__(self):
        return self.args[0]


def test_worker_module_not_found_is_a_failed_operation(tmp_path):
    ctx = workloads.Ctx(
        spark=None, tracer=Tracer(None, enabled=False), seed=1, seconds=1,
        work=str(tmp_path), cache=str(tmp_path),
    )

    def query(spark, sf_dir):
        raise _WorkerImportError(
            "An exception was thrown from the Python worker.\n"
            "ModuleNotFoundError: No module named 'warcit_spark'"
        )

    per_query = {"q": []}
    s = workloads._query_pass(ctx, ["q"], {"q": query}, "", {}, per_query)
    assert (ctx.attempted, ctx.failed, s) == (1, 1, 0.0)
    assert "ModuleNotFoundError" in ctx.errors[0]
    assert per_query == {"q": []}


def test_site_tree_is_seeded_and_covers_the_reference_cases(tmp_path):
    a = inputs.make_site(str(tmp_path / "a"), 5, 120, 64)
    b = inputs.make_site(str(tmp_path / "b"), 5, 120, 64)
    assert a == b and len(a) == 120
    for rel in a:
        with open(tmp_path / "a" / rel, "rb") as fa, open(tmp_path / "b" / rel, "rb") as fb:
            assert fa.read() == fb.read()
    depths = {r.count("/") for r in a if os.path.basename(r) == "index.html"}
    assert len(depths) >= 2
    assert any("." not in os.path.basename(r) for r in a)
    assert any(r.endswith(".ico") for r in a)
    names = "".join(a)
    assert all(ch in names for ch in inputs.NAME_CHARS)
    assert inputs.make_site(str(tmp_path / "c"), 6, 120, 64) != a


def test_site_url_encodes_the_reference_table():
    assert workloads._site_url("d1/doc#3 ,x.html") == (
        "http://example.com/d1/doc%233%20%2cx.html"
    )
    assert workloads._site_url("./index.html") == "http://example.com/index.html"


def test_crawl_seeds_depend_only_on_the_seed():
    urls = [f"http://h{i % 7}.test/p{i}" for i in range(100)]
    shuffled = random.Random(3).sample(urls, len(urls))
    assert inputs.crawl_seeds(urls, 9, 10) == inputs.crawl_seeds(shuffled, 9, 10)
    assert inputs.crawl_seeds(urls, 9, 10) != inputs.crawl_seeds(urls, 8, 10)
    assert all(0 < p <= 1 for _, p in inputs.crawl_seeds(urls, 9, 10))


def test_crawl_rounds_are_checked_against_the_recorded_counts(tmp_path, monkeypatch):
    expected = tmp_path / "crawl_frontier.json"
    expected.write_text(json.dumps({"1": [{"urls_in": 10}, {"urls_in": 12}]}))
    monkeypatch.setattr(workloads, "EXPECTED_ROUNDS", str(expected))

    def ctx(seed):
        return workloads.Ctx(
            spark=None, tracer=Tracer(None, enabled=False), seed=seed,
            seconds=1, work=str(tmp_path), cache=str(tmp_path / "cache"),
        )

    assert workloads._rounds_as_expected(ctx(1), [{"urls_in": 10}, {"urls_in": 12}])
    assert workloads._rounds_as_expected(ctx(1), [{"urls_in": 10}])
    assert not workloads._rounds_as_expected(ctx(1), [{"urls_in": 10}, {"urls_in": 13}])
    # a seed with no recorded entry: the first run in the checkout records
    assert workloads._rounds_as_expected(ctx(2), [{"urls_in": 7}])
    assert workloads._rounds_as_expected(ctx(2), [{"urls_in": 7}])
    assert not workloads._rounds_as_expected(ctx(2), [{"urls_in": 8}])
