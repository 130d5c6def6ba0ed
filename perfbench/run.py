"""Benchmark entry point.

    python3 perfbench/run.py --workload etl_export --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  Makes the workload's inputs from
``--seed`` (under ``.perfbench/``), starts the Spark session, warms up,
runs passes of the workload's op mix in one closed loop (one client,
next op only after the previous one returns) until ``--seconds`` have
passed, checks the program's outputs, and prints one JSON object as the
last line of standard output.  ``--trace 0`` reports the end-to-end
metrics; ``--trace 1`` instruments the program's modules, makes an
untraced cold pass, a traced pass and an untraced pass, and reports the
per-layer metrics plus the tracing overhead.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.host import HostConditions, RssSampler, descendants, tree_cpu_s  # noqa: E402
from perfbench.trace import RECORDER, instrument  # noqa: E402

#: Span prefix -> module, for the traced run.
TRACED_MODULES = {
    "session": "social_warner_spark.session",
    "catalog": "social_warner_spark.catalog",
    "caching": "social_warner_spark.caching",
    "extract": "social_warner_spark.extract",
    "pipeline": "social_warner_spark.pipeline",
    "service": "social_warner_spark.service",
    "wsgi": "social_warner_spark.wsgi",
    "sinks": "social_warner_spark.sinks.writers",
    "sources": "social_warner_spark.sources.rest",
    **{f"operators.{m}": f"social_warner_spark.operators.{m}" for m in (
        "dedup", "similarity", "graph", "tokenizer", "corpus", "ordered",
        "timeseries", "nested", "transforms")},
}
OPERATOR_LAYERS = ("dedup", "similarity", "graph", "tokenizer", "corpus", "ordered", "timeseries")
PER_LAYER_KEYS = (
    "session.get_spark_s", "catalog.load_table.calls", "catalog.load_table.self_s",
    "queries.build.self_s", "queries.action_s", "queries.spark_jobs",
    "queries.spark_tasks", "queries.tasks_failed",
    *(f"operators.{m}.{k}" for m in OPERATOR_LAYERS for k in ("self_s", "spark_jobs")),
    "extract.self_s", "sources.pages_fetched", "sources.rows_fetched",
    "sources.page_fetch_ratio", "pipeline.transform.self_s",
    "pipeline.transform.spark_jobs", "operators.nested.pivot.self_s",
    "operators.nested.pivot_keys", "sinks.write_table.self_s",
    "sinks.write_table.spark_jobs", "sinks.rows_written", "sinks.files_written",
    "sinks.bytes_per_row", "service.handle_request.self_s", "wsgi.app.self_s",
    "caching.released", "trace.overhead_s", "trace.unattributed_s",
    "trace.untraced_op_s", "trace.traced_op_s", "trace.spans_per_op",
)
#: No op after the first pass starts that would end later than this after
#: process start, so a run ends well inside the 180 s a run may take.
DEADLINE_S = 150.0


def tail(samples: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples beyond) at the highest percentile that
    has at least 10 samples beyond it; the maximum when there are fewer
    than 11 samples."""
    xs = sorted(samples)
    n = len(xs)
    if n <= 10:
        return xs[-1], 100.0, 0
    return xs[n - 11], 100.0 * (n - 10) / n, 10


def run_window(workload, seconds: float, traced: bool, deadline: float):
    """Passes of the op mix until ``seconds`` have passed.  The first pass
    always runs whole and untraced; after it, no op starts that would
    likely end after ``deadline`` (perf_counter), judged by that op's last
    latency.  With ``traced``, traced and untraced passes then alternate
    until there has been at least one of each (T, U), so the overhead
    compares equally warm runs of an op; the deadline may cut the
    untraced pass short, leaving fewer ops to compare.
    Returns the op records (with their pass number), the (wall, CPU)
    seconds of the whole passes (sums over their ops) and the window
    length."""
    ops, passes, last = [], [], {}
    me = os.getpid()
    t_start = time.perf_counter()
    while True:
        n_pass = len(passes)
        pass_wall = pass_cpu = 0.0
        recording = traced and n_pass % 2 == 1
        for label, fn in workload.ops():
            if n_pass and time.perf_counter() + last[label] > deadline:
                return ops, passes, time.perf_counter() - t_start
            RECORDER.op = len(ops)
            before = workload.counters()
            cpu0 = tree_cpu_s(me)
            RECORDER.enabled = recording
            t0 = time.perf_counter()
            try:
                with RECORDER.span("op"):
                    fn()
                ok = True
            except Exception as exc:  # an op that errors counts as failed
                print(f"op {label} failed: {exc!r}"[:2000], file=sys.stderr)
                ok = False
            wall = time.perf_counter() - t0
            RECORDER.enabled = False
            cpu = tree_cpu_s(me) - cpu0
            released = workload.finish_op(label)
            after = workload.counters()
            ops.append({"label": label, "wall": wall, "cpu": cpu, "ok": ok, "traced": recording,
                        "pass": n_pass, "released": released,
                        "counters": {k: after[k] - before[k] for k in after}})
            print(f"op {label} pass={n_pass} traced={recording} {wall:.3f} s, "
                  f"{cpu:.2f} cpu-s", file=sys.stderr)
            last[label] = wall
            pass_wall += wall
            pass_cpu += cpu
        passes.append((pass_wall, pass_cpu))
        elapsed = time.perf_counter() - t_start
        if elapsed >= seconds and (not traced or n_pass >= 2):
            return ops, passes, elapsed


def end_to_end(workload, ops, passes, window_s, setup_cpu_s, peak_mb) -> tuple[dict, dict]:
    """The bounded metrics use the CPU seconds of the process tree, which
    hypervisor steal does not inflate; the wall-clock figures go to the run
    line."""
    walls = [o["wall"] for o in ops]
    cpus = [o["cpu"] for o in ops]
    rows = workload.rows_loaded()
    tail_v, tail_pct, beyond = tail(cpus)
    metrics = {
        "setup_s": (setup_cpu_s, "s"),
        "op_p50_cpu_s": (statistics.median(cpus), "s"),
        "op_tail_cpu_s": (tail_v, "s"),
        "pass_cpu_s": (statistics.median(c for _, c in passes), "s"),
        "rows_loaded_per_cpu_s": (rows / sum(cpus), "1/s"),
        "peak_rss_mb": (peak_mb, "MB"),
    }
    by_label: dict[str, list[tuple[float, float]]] = {}
    for o in ops:
        by_label.setdefault(o["label"], []).append((o["wall"], o["cpu"]))
    info = {"ops": len(ops), "passes": len(passes), "window_s": round(window_s, 3),
            "tail_percentile": round(tail_pct, 2), "tail_samples_beyond": beyond,
            "op_p50_s": statistics.median(walls), "op_tail_s": tail(walls)[0],
            "pass_s": statistics.median(w for w, _ in passes),
            "rows_loaded_per_s": rows / sum(walls),
            "op_median_s": {k: round(statistics.median(w for w, _ in v), 3)
                            for k, v in by_label.items()},
            "op_median_cpu_s": {k: round(statistics.median(c for _, c in v), 2)
                                for k, v in by_label.items()}}
    return {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}, info


def per_layer(workload, ops, spans_by_op, session_s) -> dict:
    traced = [o for o in ops if o["traced"]]
    n = max(1, len(traced))
    agg: dict[str, float] = {}

    def add(key, v):
        agg[key] = agg.get(key, 0.0) + v

    def subtree_jobs(span):
        return span.jobs + sum(subtree_jobs(c) for c in span.children)

    for i, o in enumerate(ops):
        if not o["traced"]:
            continue
        add("caching.released", o["released"])
        for k, v in o["counters"].items():
            add(k, v)
        for s in spans_by_op.get(i, ()):
            layer = s.name.rsplit(".", 1)[0]
            add("_spans", 1)
            add("queries.spark_jobs", s.jobs)
            add("queries.spark_tasks", s.tasks)
            add("queries.tasks_failed", s.failed_tasks)
            if s.name == "op":
                add("trace.unattributed_s", s.self_time)
            if s.name == "catalog.load_table":
                add("catalog.load_table.calls", 1)
            if layer == "catalog":
                add("catalog.load_table.self_s", s.self_time)
            if s.name == "queries.build":
                add("queries.build.self_s", s.self_time)
            if s.name == "queries.action":
                add("queries.action_s", s.duration)
            if layer.startswith("operators.") and layer.split(".")[1] in OPERATOR_LAYERS:
                add(f"{layer}.self_s", s.self_time)
                add(f"{layer}.spark_jobs", s.jobs)
            if layer == "extract":
                add("extract.self_s", s.self_time)
            if s.name == "pipeline.transform_config_frame":
                add("pipeline.transform.self_s", s.self_time)
                add("pipeline.transform.spark_jobs", subtree_jobs(s))
            if layer == "operators.nested":
                add("operators.nested.pivot.self_s", s.self_time)
                if s.name == "operators.nested.distinct_map_keys" and s.result is not None:
                    add("operators.nested.pivot_keys", s.result)
            if s.name == "sinks.write_table":
                add("sinks.write_table.self_s", s.self_time)
                add("sinks.write_table.spark_jobs", s.jobs)
                add("sinks.rows_written", s.result or 0)
            if s.name == "service.handle_request":
                add("service.handle_request.self_s", s.self_time)
            if s.name == "wsgi.app":
                add("wsgi.app.self_s", s.self_time)

    out = {k: v / n for k, v in agg.items() if not k.startswith("_")}
    for key in PER_LAYER_KEYS:
        out.setdefault(key, 0.0)
    out["session.get_spark_s"] = session_s
    pages_needed = getattr(workload, "pages_needed", 0)
    out["sources.page_fetch_ratio"] = (out.get("sources.pages_fetched", 0.0) / pages_needed
                                       if pages_needed else 0.0)
    rows = agg.get("sinks.rows_written", 0.0)
    out["sinks.bytes_per_row"] = agg.pop("_bytes_written", 0.0) / rows if rows else 0.0
    out["trace.spans_per_op"] = agg.get("_spans", 0.0) / n
    # overhead: traced minus untraced wall of the same op label, averaged
    # over the labels run both ways after the cold first pass
    warm = [o for o in ops if o["pass"] > 0]
    by_label: dict[str, list[list[float]]] = {}
    for o in warm:
        by_label.setdefault(o["label"], [[], []])[o["traced"]].append(o["wall"])
    pairs = [(statistics.mean(t), statistics.mean(u)) for u, t in by_label.values() if u and t]
    if not pairs:
        raise RuntimeError("the traced run ended before any op ran both traced and "
                           "untraced after the cold pass; tracing overhead not measured")
    out["trace.traced_op_s"] = statistics.mean(t for t, _ in pairs)
    out["trace.untraced_op_s"] = statistics.mean(u for _, u in pairs)
    out["trace.overhead_s"] = out["trace.traced_op_s"] - out["trace.untraced_op_s"]
    units = {"calls": "count", "spark_jobs": "count", "spark_tasks": "count",
             "tasks_failed": "count", "released": "count", "pages_fetched": "count",
             "rows_fetched": "count", "page_fetch_ratio": "ratio", "pivot_keys": "count",
             "rows_written": "count", "files_written": "count", "bytes_per_row": "B",
             "spans_per_op": "count"}
    return {k: {"value": v, "unit": units.get(k.rsplit(".", 1)[1], "s")} for k, v in out.items()}


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark) -> None:
    """Stop the session and wait until the JVM and the Python workers it
    started have ended."""
    from pyspark import SparkContext

    me = os.getpid()
    kids = [p for p in descendants(me) if p != me]
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=20)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 20
    while time.monotonic() < deadline and any(_alive(p) for p in kids):
        time.sleep(0.05)
    for pid in kids:
        if _alive(pid):
            os.kill(pid, signal.SIGKILL)


def main(argv=None) -> int:
    t_process = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["etl_export", "olap_queries", "corpus_queries"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    try:
        import social_warner_spark  # noqa: F401
        from pyspark.sql import SparkSession  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the program is not importable here: {exc}", file=sys.stderr)
        return 2

    from perfbench import workloads
    from perfbench.host import cpu_count

    os.environ["SPARK_GRAFT_CPUS"] = str(cpu_count())  # Spark runs as local[nproc]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    host = HostConditions(os.environ["SPARK_GRAFT_CPUS"])
    state_dir = os.path.join(ROOT, ".perfbench")
    workload = workloads.make(args.workload, state_dir, args.seed)
    workload.prepare()

    traced = bool(args.trace)
    if traced:
        instrument(TRACED_MODULES)
        RECORDER.enabled = True
    from social_warner_spark import session

    t0 = time.perf_counter()
    cpu0 = tree_cpu_s(os.getpid())
    deadline = t_process + DEADLINE_S
    spark = session.get_spark(app_name="perfbench")
    session_s = time.perf_counter() - t0
    RECORDER.enabled = False
    spark.sparkContext.setLogLevel("ERROR")
    try:
        workload.setup(spark)
        setup_wall_s = time.perf_counter() - t0
        setup_cpu_s = tree_cpu_s(os.getpid()) - cpu0
        if traced:
            RECORDER.sc = spark.sparkContext
            workload.count_files = True
        with RssSampler() as rss:
            ops, passes, window_s = run_window(workload, args.seconds, traced, deadline)
        bad = workload.verify()
    finally:
        stop_spark(spark)
        if hasattr(workload, "cleanup"):
            workload.cleanup()

    failed = sum(1 for o in ops if not o["ok"] or o["label"] in bad or
                 (args.workload == "etl_export" and bad))
    if traced:
        spans_by_op: dict[int, list] = {}
        for s in RECORDER.spans:
            if s.op is not None:
                spans_by_op.setdefault(s.op, []).append(s)
        metrics = per_layer(workload, ops, spans_by_op, session_s)
        info = {"ops": len(ops), "spans": len(RECORDER.spans),
                "traced_ops": sum(o["traced"] for o in ops),
                "warm_untraced_ops": sum(o["pass"] > 0 and not o["traced"] for o in ops)}
    else:
        metrics, info = end_to_end(workload, ops, passes, window_s, setup_cpu_s, rss.peak_mb)
        info["setup_wall_s"] = setup_wall_s
    info.update(failed_share=failed / len(ops), failed_checks=sorted(bad),
                workload=args.workload, seed=args.seed, trace=args.trace)
    print(json.dumps({"host": host.report(), "run": info}))
    print(json.dumps({"correct": failed == 0, "attempted": len(ops), "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
