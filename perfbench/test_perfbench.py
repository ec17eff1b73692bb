"""Fast tests of the benchmark itself, at a tiny scale on one shared local
Spark session:

    python -m pytest perfbench/ -q

Each workload runs once untraced and once traced; every metric named in
BENCHMARK.json must print with its unit, and a corrupted expected answer
must show up as failed ops."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

import numpy as np
import pytest

import run
import workloads as wl

TINY = wl.Scale(docs=300, batch=8, slice_docs=50,
                warmup={"cold_single": 1, "hot_batch": 1, "ingest": 1})
SPEC = json.load(open(os.path.join(run.ROOT, "BENCHMARK.json")))


@pytest.fixture(scope="module")
def session(tmp_path_factory):
    saved_env, saved_tmp = dict(os.environ), tempfile.tempdir
    work = str(tmp_path_factory.mktemp("perfbench"))
    spark = run.start_session(work, trace=True)
    yield spark, work
    run.stop_session(spark)
    os.environ.clear()
    os.environ.update(saved_env)
    tempfile.tempdir = saved_tmp


def _run(session, name, trace, seed=7):
    spark, work = session
    return run.run_workload(spark, name, seed, 0.5, trace, work, TINY)


def _assert_shape(res, units):
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert set(res["metrics"]) == set(units)
    for k, m in res["metrics"].items():
        assert m["unit"] == units[k]
        assert np.isfinite(m["value"])
    assert res["attempted"] >= 2 and res["failed"] == 0 and res["correct"]


def test_spec_names_match_the_runner():
    assert {w["name"] for w in SPEC["workloads"]} <= set(wl.WORKLOADS)
    for m in SPEC["end_to_end"]:
        assert run.END_TO_END[m["name"]] == m["unit"]
    for m in SPEC["per_layer"]:
        assert run.PER_LAYER[m["name"]] == m["unit"]


@pytest.mark.parametrize("name", sorted(wl.WORKLOADS))
def test_end_to_end_metrics_print_with_units(session, name):
    out = _run(session, name, trace=False)
    _assert_shape(out["result"], run.END_TO_END)
    for k, m in out["result"]["metrics"].items():
        assert m["value"] > 0, k
    d = out["detail"]
    assert d["latency_samples"] == d["ops"]
    commit = name == "hot_batch"  # hot_batch adds one checked ingest commit
    assert out["result"]["attempted"] == d["ops"] + commit
    assert (d["commit"] is not None) == commit
    more = d["more_metrics"]
    assert more["failed_op_ratio"] == {"value": 0.0, "unit": "ratio"}
    assert more["latency_tail_ms"]["unit"] == "ms"
    assert more["throughput_qps"]["value"] > 0
    assert more["build_docs_per_s"]["value"] > 0
    assert ("throughput_docs_s" in more) == (name != "cold_single")
    assert {"loadavg_1m_start", "loadavg_1m_end", "steal_pct", "nproc",
            "pyspark_version", "java_version"} <= set(d["env"])


@pytest.mark.parametrize("name", sorted(wl.WORKLOADS))
def test_traced_run_prints_per_layer_metrics(session, name):
    out = _run(session, name, trace=True)
    _assert_shape(out["result"], run.PER_LAYER)
    m = {k: v["value"] for k, v in out["result"]["metrics"].items()}
    assert m["spark.jobs_per_op"] >= 1 and m["spark.tasks_per_op"] >= 1
    assert m["build.invert_write_s"] > 0
    ingest = [k for k in m if k.startswith("ingest.")]
    if name == "cold_single":
        assert all(m[k] == 0 for k in ingest)
    else:  # the ingest ops, or hot_batch's set-up commit
        assert all(m[k] > 0 for k in ingest)
    if name != "ingest":
        assert m["kernel.python_run_ms_per_query"] > 0
    assert (m["cache.bytes"] > 0) == (name == "hot_batch")
    spans = out["tracer"].by_op()
    assert spans and all(s for s in spans.values())


def test_topk_check_accepts_ties_and_rejects_wrong_scores():
    f32 = np.float32
    matches = {1: f32(2.0), 2: f32(1.5), 3: f32(1.5), 4: f32(1.0)}
    assert wl.topk_matches_oracle([(1, 2.0), (3, 1.5)], matches, 2)
    assert wl.topk_matches_oracle([(1, 2.0), (2, 1.5)], matches, 2)
    assert not wl.topk_matches_oracle([(1, 2.0), (4, 1.0)], matches, 2)
    assert not wl.topk_matches_oracle([(1, 2.0)], matches, 2)
    bumped = {**matches, 1: np.nextafter(f32(2.0), f32(3.0))}
    assert not wl.topk_matches_oracle([(1, 2.0), (3, 1.5)], bumped, 2)


@pytest.mark.parametrize("name", ["cold_single", "hot_batch"])
def test_corrupted_expected_answer_fails_ops(session, name, monkeypatch):
    orig = wl.oracle.OracleEngine.matches

    def off_by_one_ulp(self, q):
        m = orig(self, q)
        m.scores = np.nextafter(m.scores.astype(np.float32),
                                np.float32(np.inf))
        return m
    monkeypatch.setattr(wl.oracle.OracleEngine, "matches", off_by_one_ulp)
    out = _run(session, name, trace=False, seed=8)
    res = out["result"]
    # queries with no match have nothing to corrupt; every other one fails
    assert not res["correct"] and res["failed"] > 0
    assert out["detail"]["more_metrics"]["failed_op_ratio"]["value"] == \
        res["failed"] / res["attempted"]


def test_wrong_commit_fails_the_run(session, monkeypatch):
    orig = wl.Ingest.after

    def one_doc_more(self, sl, out):
        got = orig(self, sl, out)
        out["expect_docs"] += 1
        return got
    monkeypatch.setattr(wl.Ingest, "after", one_doc_more)
    out = _run(session, "hot_batch", trace=False, seed=9)
    res = out["result"]
    assert not res["correct"] and res["failed"] == 1
    assert out["detail"]["commit"]["ok"] is False


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(run.ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(run.HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "cold_single",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=180)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
