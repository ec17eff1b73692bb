"""Benchmark for the Spark BM25 engine.

    python3 perfbench/run.py --workload cold_single|hot_batch|ingest \
        --seed N --seconds S --trace 0|1

Run from the repository root. Builds a seeded synth_corpus index with
build_index on local[min(2, nproc)], warms up with a fixed number of ops
drawn from a seed stream disjoint from the measured one, then runs the
workload closed-loop with one client for S seconds and checks every answer.

The last stdout line is one JSON object {correct, attempted, failed,
metrics}: with --trace 0 the end-to-end metrics, with --trace 1 the
per-layer metrics. The line before it is a JSON detail record
(environment telemetry, the tail percentile and its sample count,
failed_op_ratio, the metrics kept out of BENCHMARK.json, set-up parts).
See perfbench/README.md."""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
import uuid
import warnings

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import numpy as np  # noqa: E402

import telemetry  # noqa: E402
import workloads as wl  # noqa: E402
from lucene_7_x_9_x_spark import index as index_mod  # noqa: E402
from lucene_7_x_9_x_spark.searcher import Searcher  # noqa: E402
from lucene_7_x_9_x_spark.sources.corpus import synth_corpus  # noqa: E402

END_TO_END = {
    "latency_p50_ms": "ms", "cpu_s_per_op": "s", "memory_mb": "MB",
    "index_bytes_per_input_byte": "ratio", "setup_s": "s",
}
PER_LAYER = {
    "searcher.prep_ms": "ms", "plans.rewrite_ms": "ms",
    "index.term_stats_lookup_ms": "ms", "index.impacts_lookup_ms": "ms",
    "index.lookup_calls": "count",
    "spark.jobs_per_op": "count", "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count", "spark.task_deser_ms": "ms",
    "spark.sched_delay_ms": "ms",
    "scan.input_bytes_per_op": "bytes", "scan.input_batches_per_op": "count",
    "scan.time_ms": "ms",
    "exchange.shuffle_bytes_per_op": "bytes",
    "exchange.records_per_result": "ratio", "exchange.fetch_wait_ms": "ms",
    "serde.bytes_to_python_per_op": "bytes",
    "serde.bytes_from_python_per_op": "bytes",
    "kernel.python_run_ms_per_query": "ms",
    "jvm.gc_ms_per_op": "ms",
    "cpu.driver_s_per_op": "s", "cpu.jvm_s_per_op": "s",
    "cpu.pyworker_s_per_op": "s",
    "cache.warmup_s": "s", "cache.bytes": "bytes",
    "build.invert_write_s": "s", "build.finalize_s": "s",
    "ingest.append_ms": "ms", "ingest.finalize_ms": "ms",
    "ingest.reopen_ms": "ms", "ingest.query_ms": "ms",
    "ingest.bytes_written_per_input_byte": "ratio",
    "trace.overhead_ms": "ms",
}


HEAP = "1g"  # driver JVM heap (local mode: the only JVM)


def tail_percentile(n: int) -> int:
    """The highest of 50/75/90/95/99 with at least ten samples beyond it;
    50 when even the median has fewer (short runs)."""
    best = 50
    for p in (75, 90, 95, 99):
        if n * (100 - p) / 100 >= 10:
            best = p
    return best


def start_session(work: str, trace: bool):
    from pyspark.sql import SparkSession
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # the JVM and its Python workers inherit this environment: they import
    # the engine from this checkout and keep temp files inside it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts  # spark-submit's own JVM
    # a fixed, pre-touched heap: its resident size is then constant instead
    # of following G1's adaptive heap growth (±15% run to run), and
    # memory_mb swaps it for the heap's live size
    driver_opts = f"{jvm_opts} -Xms{HEAP} -XX:+AlwaysPreTouch"
    tempfile.tempdir = tmp
    # two task slots: on a small shared host the other vCPUs absorb the
    # JVM's JIT/GC threads, the driver and co-tenant load, which steadies
    # per-op wall and CPU time
    n = min(2, os.cpu_count() or 1)
    b = (SparkSession.builder.master(f"local[{n}]")
         .appName("perfbench")
         .config("spark.sql.shuffle.partitions", str(n))
         .config("spark.driver.memory", HEAP)
         .config("spark.driver.extraJavaOptions", driver_opts)
         .config("spark.local.dir", os.path.join(work, "spark-local"))
         .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false"))
    if trace:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir",
                     "file://" + os.path.join(work, "eventlog"))
             .config("spark.eventLog.compress", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, close the JVM gateway and wait until the JVM and every
    Python worker under it has exited."""
    from pyspark import SparkContext
    kids = telemetry.descendants(os.getpid())
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 60
    while time.time() < deadline and any(map(telemetry.alive, kids)):
        time.sleep(0.1)
    for p in filter(telemetry.alive, kids):
        with contextlib.suppress(ProcessLookupError):
            os.kill(p, signal.SIGKILL)


def trace_targets():
    """Public calls wrapped with spans in traced runs."""
    S, IS = Searcher, index_mod.IndexSnapshot
    return [(S, "search", "searcher.search"),
            (S, "search_many", "searcher.search_many"),
            (S, "rewrite", "plans.rewrite"),
            (IS, "term_stats_lookup", "index.term_stats_lookup"),
            (IS, "impacts_lookup", "index.impacts_lookup")]


def run_workload(spark, name: str, seed: int, seconds: float, trace: bool,
                 work: str, scale: wl.Scale | None = None) -> dict:
    """Set up, warm up, measure and verify one workload on a live session.
    Returns {"result": last-line object, "detail": detail record,
    "tracer": Tracer}."""
    scale = scale or wl.Scale()
    sc = spark.sparkContext
    tracer = telemetry.Tracer()
    env0 = telemetry.env_sample()
    tag = uuid.uuid4().hex[:6]  # keeps job groups unique in a shared log
    root = os.path.join(work, f"index-{tag}")
    patch = (tracer.wrapped(trace_targets()) if trace
             else contextlib.nullcontext())
    with patch:
        # ---- set-up: build, open, warm-up ops (all in setup_s)
        sc.setJobGroup("setup", "setup")
        t_setup = t = time.perf_counter()
        idx = index_mod.build_index(
            spark, synth_corpus(spark, scale.docs), root,
            id_cols=wl.ID_COLS, text_col=wl.TEXT_COL,
            num_segments=wl.SEGMENTS)
        build_s = time.perf_counter() - t
        ctx = wl.Context(spark, root, idx, scale, seed, tracer)
        w = wl.WORKLOADS[name](ctx)
        t = time.perf_counter()
        w.open()
        open_s = time.perf_counter() - t
        cache_bytes = telemetry.cached_bytes(spark)
        sc.setJobGroup("warmup", "warmup")
        t = time.perf_counter()
        for i in range(scale.warmup[name]):
            x = w.inputs(wl.WARMUP, i)
            w.after(x, w.run(x))
        warm_s = time.perf_counter() - t
        setup_s = time.perf_counter() - t_setup

        ops, done = measure(spark, w, tracer, trace, seconds, tag)

        sc.setJobGroup("verify", "verify")
        heap_mb, live_mb = telemetry.jvm_heap_mb(spark)
        rss_parts = telemetry.rss_parts_mb()
        index_bytes = wl.parquet_bytes(root)
        docs_idx = int(ctx.idx.stats["doc_count"])
        t = time.perf_counter()
        ok_iter = iter(w.verify(done))
        for rec in ops:
            rec["ok"] = rec["error"] is None and next(ok_iter)
        input_bytes = wl.utf8_bytes(ctx.base_corpus()[wl.TEXT_COL]) + \
            getattr(w, "bytes_in", 0)
        verify_s = time.perf_counter() - t
        commit = (setup_commit(ctx, tracer, trace, tag) if w.setup_commit
                  else None)
        if commit is not None:
            setup_s += commit["wall"]
    env1 = telemetry.env_sample()

    good = [r for r in ops if r["error"] is None]
    if not good:
        raise RuntimeError(f"every measured op failed: {ops[0]['error']}")
    walls = np.asarray([r["wall"] for r in good])
    checked = ops + ([commit] if commit else [])
    failed = sum(not r["ok"] for r in checked)
    p_tail = tail_percentile(len(walls))
    qps = sum(r["queries"] for r in good) / walls.sum()
    if name == "ingest":
        docs_s = sum(x["docs"] for x, _ in done) / walls.sum()
    elif commit is not None and commit["ok"]:
        docs_s = scale.slice_docs / commit["wall"]
    else:
        docs_s = None
    # the JVM's heap is fixed and pre-touched, so its VmHWM holds the whole
    # committed heap: count the heap at its live size instead
    memory_mb = sum(mb for _, mb in rss_parts) - heap_mb + live_mb
    detail = {
        "workload": name, "seed": seed, "trace": int(trace),
        "ops": len(ops),
        "latency_tail_percentile": p_tail, "latency_samples": len(walls),
        # end-to-end figures printed here rather than bounded in
        # BENCHMARK.json (see README.md)
        "more_metrics": {k: {"value": v, "unit": u} for k, v, u in (
            ("failed_op_ratio", failed / len(checked), "ratio"),
            ("throughput_qps", qps, "1/s"),
            ("latency_tail_ms",
             1e3 * float(np.percentile(walls, p_tail)), "ms"),
            ("throughput_docs_s", docs_s, "1/s"),
            ("build_docs_per_s", scale.docs / build_s, "1/s"),
        ) if v is not None},
        "latencies_ms": [1e3 * r["wall"] for r in good],
        "cpu_s": [r["cpu"] for r in good],
        "setup_parts_s": {"build": build_s, "open": open_s,
                          "warmup": warm_s,
                          "warmup_ops": scale.warmup[name],
                          "commit": commit and commit["wall"]},
        "commit": commit and {k: commit[k] for k in ("ok", "error")},
        "verify_s": verify_s,
        "index_docs": docs_idx,
        "rss_parts_mb": rss_parts,
        "jvm_heap_mb": {"committed": heap_mb, "live": live_mb},
        "env": telemetry.env_report(env0, env1, spark),
    }
    if not trace:
        metrics = {
            "latency_p50_ms": 1e3 * float(np.median(walls)),
            "cpu_s_per_op": sum(sum(r["cpu"].values()) for r in good)
            / len(good),
            "memory_mb": memory_mb,
            "index_bytes_per_input_byte": index_bytes / input_bytes,
            "setup_s": setup_s,
        }
        units = END_TO_END
    else:
        metrics = per_layer(spark, work, tracer, good, idx, cache_bytes,
                            open_s if cache_bytes else 0.0, commit)
        units = PER_LAYER
    spark.catalog.clearCache()  # the hot postings cache ends with the run
    result = {"correct": failed == 0, "attempted": len(checked),
              "failed": failed,
              "metrics": {k: {"value": metrics[k], "unit": u}
                          for k, u in units.items()}}
    return {"result": result, "detail": detail, "tracer": tracer}


def measure(spark, w, tracer, trace: bool, seconds: float, tag: str):
    """The closed loop: one op at a time until `seconds` have passed (at
    least two ops). In a traced run even ops are traced and odd ones are
    not, so the run can report its own overhead. Returns (per-op records,
    [(input, output)] of the ops that did not raise)."""
    sc = spark.sparkContext
    ops, done = [], []
    t_end = time.perf_counter() + seconds
    i = 0
    while i < 2 or time.perf_counter() < t_end:
        x = w.inputs(wl.MEASURE, i)
        traced = trace and i % 2 == 0
        op_id = f"{tag}-op{i}" if traced else "untraced"
        sc.setJobGroup(op_id, op_id)
        tracer.op, tracer.on = op_id, traced
        gc0 = telemetry.jvm_gc_ms(spark) if traced else 0.0
        c0 = telemetry.cpu_split()
        t0 = time.perf_counter()
        try:
            out, err = w.run(x), None
        except Exception as e:  # a failed op counts; the loop goes on
            out, err = None, repr(e)
        wall = time.perf_counter() - t0
        c1 = telemetry.cpu_split()
        tracer.on = False
        rec = {"op": op_id, "wall": wall, "traced": traced,
               "queries": w.queries(x), "error": err,
               "cpu": {k: c1[k] - c0[k] for k in c0},
               "gc_ms": (telemetry.jvm_gc_ms(spark) - gc0
                         if traced else 0.0)}
        if out is not None:
            rec.update(w.after(x, out))
            done.append((x, out))
        ops.append(rec)
        i += 1
    return ops, done


def setup_commit(ctx, tracer, trace: bool, tag: str) -> dict:
    """One ingest op (append a fresh slice, finalize, reopen, read-your-write
    query) on the base index, run after the measured loop and its check so
    the queried index stays the oracle's corpus. Its wall time counts in
    setup_s; in a traced run it gets the ingest.* spans."""
    sc = ctx.spark.sparkContext
    ing = wl.Ingest(ctx)
    x = ing.inputs(wl.COMMIT, 0)
    op_id = f"{tag}-commit"
    sc.setJobGroup(op_id, op_id)
    tracer.op, tracer.on = op_id, trace
    t0 = time.perf_counter()
    try:
        out, err = ing.run(x), None
    except Exception as e:  # counts as a failed op
        out, err = None, repr(e)
    rec = {"op": op_id, "wall": time.perf_counter() - t0, "error": err,
           "ok": False}
    tracer.on = False
    if out is not None:
        rec.update(ing.after(x, out))
        rec["ok"] = ing.verify([(x, out)])[0]
    return rec


def per_layer(spark, work, tracer, good, idx, cache_bytes, warm_s,
              commit) -> dict:
    """Per-layer metrics: median over traced ops of each per-op value; the
    ingest.* ones over the set-up commit where the workload has one."""
    telemetry.flush_listener_bus(spark)
    ev = telemetry.eventlog_by_group(os.path.join(work, "eventlog"))
    spans = tracer.by_op()
    traced = [r for r in good if r["traced"]]
    untraced = [r for r in good if not r["traced"]]

    def med(f, rows=traced):
        vals = [f(r) for r in rows]
        return float(np.median(vals)) if vals else 0.0

    writes = [commit] if commit else traced

    def span_ms(r, *names):
        got = spans.get(r["op"], {})
        return sum(got.get(n, [0.0])[0] for n in names)

    def span_calls(r, *names):
        got = spans.get(r["op"], {})
        return sum(got.get(n, [0, 0])[1] for n in names)

    def ev_(r, key):
        return ev.get(r["op"], {}).get(key, 0)

    phases = idx.manifest.get("phase_secs", {})
    return {
        "searcher.prep_ms": med(lambda r: span_ms(
            r, "searcher.search", "searcher.search_many")),
        "plans.rewrite_ms": med(lambda r: span_ms(r, "plans.rewrite")),
        "index.term_stats_lookup_ms": med(
            lambda r: span_ms(r, "index.term_stats_lookup")),
        "index.impacts_lookup_ms": med(
            lambda r: span_ms(r, "index.impacts_lookup")),
        "index.lookup_calls": med(lambda r: span_calls(
            r, "index.term_stats_lookup", "index.impacts_lookup")),
        "spark.jobs_per_op": med(lambda r: ev_(r, "jobs")),
        "spark.stages_per_op": med(lambda r: ev_(r, "stages")),
        "spark.tasks_per_op": med(lambda r: ev_(r, "tasks")),
        "spark.task_deser_ms": med(lambda r: ev_(r, "deser_ms")),
        "spark.sched_delay_ms": med(lambda r: ev_(r, "sched_ms")),
        "scan.input_bytes_per_op": med(lambda r: ev_(r, "input_bytes")),
        "scan.input_batches_per_op": med(
            lambda r: ev_(r, "input_batches")),
        "scan.time_ms": med(lambda r: ev_(r, "scan_ms")),
        "exchange.shuffle_bytes_per_op": med(
            lambda r: ev_(r, "shuffle_bytes")),
        "exchange.records_per_result": med(
            lambda r: ev_(r, "shuffle_records") / max(r["results"], 1)),
        "exchange.fetch_wait_ms": med(lambda r: ev_(r, "fetch_wait_ms")),
        "serde.bytes_to_python_per_op": med(lambda r: ev_(r, "py_sent")),
        "serde.bytes_from_python_per_op": med(lambda r: ev_(r, "py_recv")),
        "kernel.python_run_ms_per_query": med(
            lambda r: ev_(r, "py_run_ms") / r["queries"]),
        "jvm.gc_ms_per_op": med(lambda r: r["gc_ms"]),
        "cpu.driver_s_per_op": med(lambda r: r["cpu"]["driver"]),
        "cpu.jvm_s_per_op": med(lambda r: r["cpu"]["jvm"]),
        "cpu.pyworker_s_per_op": med(lambda r: r["cpu"]["pyworker"]),
        "cache.warmup_s": warm_s,
        "cache.bytes": cache_bytes,
        "build.invert_write_s": float(sum(
            v for k, v in phases.items() if k.startswith("invert_write"))),
        "build.finalize_s": float(sum(
            v for k, v in phases.items() if k.startswith("finalize"))),
        "ingest.append_ms": med(
            lambda r: span_ms(r, "ingest.append"), writes),
        "ingest.finalize_ms": med(
            lambda r: span_ms(r, "ingest.finalize"), writes),
        "ingest.reopen_ms": med(
            lambda r: span_ms(r, "ingest.reopen"), writes),
        "ingest.query_ms": med(lambda r: span_ms(r, "ingest.query"), writes),
        "ingest.bytes_written_per_input_byte": med(
            lambda r: r.get("bytes_written_per_input_byte", 0.0), writes),
        "trace.overhead_ms": 1e3 * (
            float(np.median([r["wall"] for r in traced]))
            - float(np.median([r["wall"] for r in untraced]))
            if traced and untraced else 0.0),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(wl.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    warnings.filterwarnings("ignore", category=UserWarning)
    base = os.path.join(HERE, ".work")
    work = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t0 = time.perf_counter()
        spark = start_session(work, bool(a.trace))
        spark_start_s = time.perf_counter() - t0
        try:
            out = run_workload(spark, a.workload, a.seed, a.seconds,
                               bool(a.trace), work)
        finally:
            t0 = time.perf_counter()
            stop_session(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    out["detail"]["spark_start_s"] = spark_start_s
    out["detail"]["spark_stop_s"] = time.perf_counter() - t0
    if a.trace:
        os.makedirs(os.path.join(base, "traces"), exist_ok=True)
        out["tracer"].dump(
            os.path.join(base, "traces",
                         f"{a.workload}-seed{a.seed}.json"),
            {"detail": out["detail"], "result": out["result"]})
    print(json.dumps(out["detail"]))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
