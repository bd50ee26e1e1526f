#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload anonymise_apply --seed 1 --seconds 10 --trace 0

Run from the repository root. Inputs are generated from ``--seed`` and
cached under ``.perfbench/data``; each run works in its own directory under
``.perfbench/work`` and removes it at exit.

A run has three phases:

1. set-up, the workload's ``setup_rounds`` times: start a session (the
   first round also launches the JVM), load the inputs, warm up. The cold
   first pass runs right after the first round, and the workload's
   untimed ``settle`` operations after the last;
2. the steady window: whole passes until ``--seconds`` have elapsed;
3. the final output check.

With ``--trace 0`` the last stdout line carries the end-to-end metrics.
With ``--trace 1`` the session restarts with the Spark event log on before
the steady window, whose passes then alternate between untraced and
traced; a traced pass runs every library call in a span keyed by a Spark
job group. The last line then carries the per-layer metrics, including the
tracing overhead: the traced minus the untraced median wall per operation
kind, both measured in that one session.

Metric definitions per workload are in ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import signal
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench import harness as H  # noqa: E402
from perfbench.gen import describe_inputs, ensure_inputs  # noqa: E402
from perfbench.workload import CheckFailed  # noqa: E402

#: p90 is printed in the detail line, not gated: a run yields ~5-15
#: operations per class, so fewer than ten lie beyond p90
END_TO_END = {
    "setup_s": "s", "first_pass_s": "s", "rows_per_s": "rows/s",
    "read_ms_p50": "ms", "write_ms_p50": "ms",
    "stmts_per_s": "1/s", "space_amp": "ratio", "peak_rss_mb": "MB",
}

_CURATE_STAGES = ("gates", "exact", "near", "balance", "split", "decontam", "mix")
PER_LAYER = {
    "spark.jobs": "count", "spark.tasks": "count", "spark.task_cpu_s": "s",
    "spark.task_run_s": "s", "spark.gc_s": "s", "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.driver_gap_s": "s",
    "python.udf_s": "s", "python.rows": "count",
    "session.start_s": "s",
    "planner.build_plan_ms": "ms", "strategies.mask_table_ms": "ms",
    "executor.dryrun_s": "s", "executor.apply_s": "s", "executor.write_s": "s",
    "executor.output_files": "count", "executor.out_bytes_per_in_byte": "ratio",
    **{f"curate.{s}_s": "s" for s in _CURATE_STAGES},
    **{f"curate.rows_after.{s}": "count" for s in _CURATE_STAGES},
    "curate.kept_ratio": "ratio",
    "export.export_s": "s", "export.verify_s": "s", "export.shards": "count",
    "export.bytes_written": "bytes",
    "sql_dml.classify_ms": "ms", "sql_dml.derive_prune_ms": "ms",
    **{f"sql_dml.execute_ms.{k}": "ms" for k in ("update", "delete", "merge", "in_subquery")},
    "versioned.commit_reads_per_stmt": "count", "versioned.data_files_read_per_stmt": "count",
    "versioned.files_touched_per_write": "count", "versioned.files_carried_ratio": "ratio",
    "versioned.write_amp": "ratio", "versioned.compact_s": "s",
    "versioned.compact_bytes_rewritten": "bytes", "versioned.live_files_end": "count",
    "versioned.versions_end": "count",
    "datasource.files_read_per_read": "count", "datasource.load_ms": "ms",
    "host.control_s": "s", "trace.overhead_ms": "ms",
}


def workload_classes() -> dict:
    from perfbench.anonymise import AnonymiseApply
    from perfbench.curate import CurateExport
    from perfbench.dml import VersionedDml

    return {c.name: c for c in (AnonymiseApply, CurateExport, VersionedDml)}


def _measure(wl, spark, tracer, seconds: float) -> list:
    """Whole passes until ``seconds`` have elapsed (at least one)."""
    ops = []
    end = time.perf_counter() + seconds
    while True:
        ops += wl.run_pass(spark, tracer)
        if time.perf_counter() >= end:
            return ops


def _alternate(wl, spark, tracer, seconds: float) -> tuple[list, list]:
    """Whole passes until ``seconds`` have elapsed, alternately untraced and
    traced (the order flips each round, so drift favours neither); at least
    one of each. Returns (untraced ops, traced ops)."""
    plain, traced = [], []
    off = H.Tracer()
    end = time.perf_counter() + seconds
    for i in itertools.count():
        for t in ((off, tracer) if i % 2 == 0 else (tracer, off)):
            (traced if t.enabled else plain).extend(wl.run_pass(spark, t))
        if time.perf_counter() >= end:
            return plain, traced


def _overhead_ms(plain, traced) -> float:
    """Tracing cost per operation: the traced minus the untraced median
    wall of each operation kind, weighted by the kind's share of the
    traced operations (maintenance excluded)."""
    kinds = [o.kind for o in traced if o.cls != "maint"]
    total = 0.0
    for k in set(kinds):
        on = [o.wall_s for o in traced if o.kind == k]
        base = [o.wall_s for o in plain if o.kind == k]
        if base:
            total += (H.median(on) - H.median(base)) * kinds.count(k)
    return total / max(len(kinds), 1) * 1e3


def _restart(spark, wl, event_log_dir=None):
    spark.stop()
    spark = H.start_session(event_log_dir)
    wl.load(spark, first=False)
    wl.warm_up(spark)
    return spark


def _walls_ms(ops, cls):
    """Walls of one operation class. Failed operations count too: a run
    with failures is reported incorrect whatever its timings."""
    return [o.wall_s * 1e3 for o in ops if o.cls == cls]


def end_to_end(wl, steady, setup, first_pass_s, space_amp, rss) -> dict:
    reads, writes = _walls_ms(steady, "read"), _walls_ms(steady, "write")
    return {
        "setup_s": H.median(setup),
        "first_pass_s": first_pass_s,
        "rows_per_s": wl.rows_per_s(steady),
        "read_ms_p50": H.percentile(reads, 50), "write_ms_p50": H.percentile(writes, 50),
        "stmts_per_s": len(steady) / sum(o.wall_s for o in steady),
        "space_amp": space_amp,
        "peak_rss_mb": rss["total"],
    }


def run(workload: str, seed: int, seconds: float, trace: bool, scale: str = "bench",
        cls=None) -> dict:
    H.host_env()
    cache = H.ROOT / ".perfbench"
    data = ensure_inputs(cache / "data", scale, seed)
    work = cache / "work" / f"{workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        wl = (cls or workload_classes()[workload])(data, work, seed)
        return _run(wl, data, work, seconds, trace)
    finally:
        H.stop_all()
        shutil.rmtree(work, ignore_errors=True)


def _run(wl, data, work, seconds: float, trace: bool) -> dict:
    off = H.Tracer()
    t0 = time.perf_counter()
    spark = H.start_session()
    session_start_s = time.perf_counter() - t0
    wl.load(spark, first=True)
    wl.warm_up(spark)
    setup = [time.perf_counter() - t0]
    control = [H.host_control_s(spark)]

    first = wl.run_pass(spark, off)
    first_pass_s = sum(o.wall_s for o in first)
    # the traced run reports no set-up time: its one restart turns the
    # event log on
    for _ in range(0 if trace else wl.setup_rounds - 1):
        t0 = time.perf_counter()
        spark = _restart(spark, wl)
        setup.append(time.perf_counter() - t0)

    if trace:
        spark = _restart(spark, wl, work / "eventlog")
        tracer = H.Tracer(spark)
    first += wl.settle(spark)
    rss_reset = H.reset_peak_rss()
    if trace:
        plain, traced = _alternate(wl, spark, tracer, seconds)
        steady = plain + traced
    else:
        steady = _measure(wl, spark, off, seconds)
    rss = H.peak_rss_mb(spark)
    control.append(H.host_control_s(spark))
    ops = first + steady

    failures = [f"{o.kind}: {o.error}" for o in ops if not o.ok]
    try:
        wl.final_check(spark)
    except CheckFailed as e:
        failures.append(f"final check: {e}")
    space_amp = wl.space_amp(spark)
    detail = {
        "workload": wl.name, "seed": wl.seed,
        "env": {k: os.environ[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM")},
        "inputs": describe_inputs(data, wl.tables),
        "samples": {c: len(_walls_ms(steady, c)) for c in ("read", "write", "maint")},
        "walls_ms": {k: [round(o.wall_s * 1e3) for o in steady if o.kind == k]
                     for k in sorted({o.kind for o in steady})},
        "p90_ms": {c: round(H.percentile(_walls_ms(steady, c), 90), 1) for c in ("read", "write")},
        "passes": wl.passes, "first_pass_s": first_pass_s, "setup_rounds_s": setup,
        "rss_reset": rss_reset, "peak_rss_mb": {k: round(v, 1) for k, v in rss.items()},
        "host_control_s": control,
        "failures": failures[:5],
    }

    if not trace:
        spark.stop()
        metrics = end_to_end(wl, steady, setup, first_pass_s, space_amp, rss)
        units = END_TO_END
    else:
        n_steady_spans = len(tracer.spans)
        metrics = dict.fromkeys(PER_LAYER, 0.0)
        metrics.update(wl.probes(spark, tracer))
        spark.stop()
        stats = H.span_stats(tracer.spans, H.read_event_log(work / "eventlog"))
        metrics.update(H.spark_layer_metrics(stats[:n_steady_spans], len(traced)))
        metrics.update(wl.layer_metrics(stats[:n_steady_spans], traced))
        metrics.update({
            "session.start_s": session_start_s,
            "host.control_s": sum(control) / len(control),
            "trace.overhead_ms": _overhead_ms(plain, traced),
        })
        detail["spans"] = _span_summary(stats[:n_steady_spans])
        units = PER_LAYER
    unknown = set(metrics) - set(units)
    if unknown:
        raise RuntimeError(f"metrics without a declared unit: {sorted(unknown)}")
    attempted = len(ops) + 1  # every operation plus the final check
    return {
        "detail": detail,
        "result": {
            "correct": not failures,
            "attempted": attempted,
            "failed": len(failures),
            "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
        },
    }


def _span_summary(stats: list[dict]) -> dict:
    """Per span name: count and summed Spark figures (stdout detail line)."""
    out: dict[str, dict] = {}
    for s in stats:
        agg = out.setdefault(s["name"], {"n": 0})
        agg["n"] += 1
        for k in ("wall_s", "jobs", "tasks", "task_cpu_s", "driver_gap_s", "python_udf_s"):
            agg[k] = round(agg.get(k, 0) + s[k], 4)
    return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(workload_classes()))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("bench", "tiny"), default="bench",
                   help="input size; 'tiny' is for the self-test")
    a = p.parse_args(argv)
    # a terminated run unwinds too, so that it stops the JVM it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    out = run(a.workload, a.seed, a.seconds, bool(a.trace), a.scale)
    print("# detail " + json.dumps(out["detail"], default=str), flush=True)
    print(json.dumps(out["result"]), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
