"""Session, memory, timing and tracing helpers shared by the workloads.

The session is the library's own ``get_spark`` with the host-sized
environment overrides the benchmark records in ``BENCHMARK.json``:
``SPARK_GRAFT_CPUS`` (the usable core count) and
``SPARK_GRAFT_DRIVER_MEM``. The console progress bar and the Spark UI are
off; the event log is on only in the traced phase of a ``--trace 1`` run.

Tracing: :class:`Tracer` wraps each call into the library in a span that
sets a Spark job group. After the session stops, :func:`span_stats` reads
the event log and attributes every job, stage and task to its span.
"""

from __future__ import annotations

import json
import logging
import os
import signal
import subprocess
import sys
import time
from contextlib import contextmanager
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

DRIVER_MEM = "3g"
#: every Python-evaluating plan node (ArrowEvalPython, MapInPandas,
#: BatchEvalPython, the Python data source scan, ...) reports this metric
PY_NODE_METRIC = "data returned from Python workers"
#: the UDF-evaluating nodes also time the Python workers; data source
#: scans do not
PY_TIME_METRIC = "time to run Python workers"
PY_ROWS_METRIC = "number of output rows"


def host_env() -> dict:
    """Size the local session to the host it runs on through the library's own
    environment overrides (never its built-in defaults)."""
    env = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
    }
    os.environ.update(env)
    # Python workers import the library too, whatever the working directory
    paths = os.environ.get("PYTHONPATH", "").split(os.pathsep)
    if str(ROOT) not in paths:
        os.environ["PYTHONPATH"] = os.pathsep.join([str(ROOT)] + [p for p in paths if p])
    return env


def start_session(event_log_dir: Path | None = None):
    from database_anonymiser_spark.session import get_spark

    conf = {
        # a fixed, pre-touched heap: the heap's share of the JVM's resident
        # set is then a constant, and peak_rss_mb counts the heap by its
        # live data instead (see peak_rss_mb)
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "false",
        "spark.eventLog.enabled": "false",
    }
    if event_log_dir is not None:
        event_log_dir.mkdir(parents=True, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log_dir.as_uri(),
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    # the library logs each type-safety downgrade; the report carries them
    logging.getLogger("database_anonymiser_spark").setLevel(logging.ERROR)
    return spark


def host_control_s(spark) -> float:
    """A fixed pure-JVM job; its wall tracks host load, not this code."""
    t0 = time.perf_counter()
    spark.range(20_000_000).selectExpr("sum(id * 2)").collect()
    return time.perf_counter() - t0


def _proc_kb(pid: int, field: str) -> int:
    try:
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith(field + ":"):
                return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(pid: int) -> dict[int, str]:
    """Descendant processes of ``pid``: process id → command name."""
    parent = {}
    for p in Path("/proc").iterdir():
        if not p.name.isdigit():
            continue
        try:
            stat = (p / "stat").read_text()
            comm = (p / "comm").read_text().strip()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        parent[int(p.name)] = (ppid, comm)
    out = {}
    for child, (ppid, comm) in parent.items():
        p = ppid
        while p and p != pid and p in parent:
            p = parent[p][0]
        if p == pid:
            out[child] = comm
    return out


def _jvm_children(pid: int) -> list[int]:
    """Descendant processes of ``pid`` that run a JVM."""
    return [c for c, comm in _descendants(pid).items() if comm == "java"]


def _running(pid: int) -> bool:
    try:
        stat = Path(f"/proc/{pid}/stat").read_text()
    except OSError:
        return False
    return stat.rsplit(")", 1)[1].split()[0] not in ("Z", "X")


def stop_all(timeout_s: float = 60.0) -> None:
    """Stop the Spark session and the JVM it runs in, and wait until every
    process this one started (the JVM, its Python workers) has ended.

    ``SparkSession.stop`` leaves the JVM running: it exits only once its
    stdin closes, which otherwise happens after this process has exited."""
    from pyspark import SparkContext

    procs = _descendants(os.getpid())
    sc = SparkContext._active_spark_context
    if sc is not None:
        try:
            sc.stop()
        except Exception:  # a broken session still has a JVM to end
            pass
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        try:
            gateway.close()
        except Exception:
            pass
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + timeout_s
    for pid in procs:
        while _running(pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if _running(pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass
            while _running(pid):
                time.sleep(0.05)


def reset_peak_rss() -> bool:
    """Restart the VmHWM high-water mark of this process and its JVM, so
    that the next :func:`peak_rss_mb` covers only what runs after it.
    Returns False where the kernel refuses the reset."""
    me = os.getpid()
    try:
        for pid in [me] + _jvm_children(me):
            Path(f"/proc/{pid}/clear_refs").write_text("5")
    except OSError:
        return False
    return True


def peak_rss_mb(spark) -> dict:
    """Peak memory of this driver process and its JVM since
    :func:`reset_peak_rss`, in MB, by part:

    - ``python``: VmHWM of this process;
    - ``jvm_off_heap``: VmHWM of the JVM minus its committed heap. The heap
      is fixed and pre-touched (see :func:`start_session`), so this is the
      peak resident memory outside the heap: metaspace, code, threads,
      direct and native buffers;
    - ``jvm_live_heap``: heap still in use after a full collection, taken
      now. A pre-touched heap's resident size never changes, and the peak
      heap use before a collection follows the collector's young-generation
      sizing, which varies from run to run; the live heap follows the data
      the program keeps (cached frames, broadcast and metadata caches).

    ``total`` is their sum."""
    me = os.getpid()
    jvm_kb = sum(_proc_kb(c, "VmHWM") for c in _jvm_children(me))
    mx = spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    committed = mx.getHeapMemoryUsage().getCommitted()
    mx.gc()
    parts = {
        "python": _proc_kb(me, "VmHWM") / 1024.0,
        "jvm_off_heap": (jvm_kb * 1024 - committed) / 2**20,
        "jvm_live_heap": mx.getHeapMemoryUsage().getUsed() / 2**20,
    }
    parts["total"] = sum(parts.values())
    return parts


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]; 0.0 for no
    samples (only a run whose passes failed has none, and it is reported
    incorrect)."""
    xs = sorted(values)
    if not xs:
        return 0.0
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return percentile(values, 50)


def dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in Path(path).rglob("*") if p.is_file())


class Tracer:
    """Spans around library calls. Disabled tracers cost one branch."""

    def __init__(self, spark=None):
        self.spark = spark
        self.spans: list[dict] = []

    @property
    def enabled(self) -> bool:
        return self.spark is not None

    @contextmanager
    def span(self, name: str):
        if self.spark is None:
            yield
            return
        sc = self.spark.sparkContext
        gid = f"{name}#{len(self.spans)}"
        sc.setJobGroup(gid, name)
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            self.spans.append({"name": name, "group": gid, "t0": t0, "t1": t1})


def _walk_plan(node: dict, acc_meta: dict) -> None:
    names = {m["name"] for m in node.get("metrics", [])}
    if PY_NODE_METRIC in names:
        for m in node["metrics"]:
            if m["name"] in (PY_TIME_METRIC, PY_ROWS_METRIC):
                acc_meta[m["accumulatorId"]] = (m["name"], m.get("metricType", ""))
    for child in node.get("children", []):
        _walk_plan(child, acc_meta)


def read_event_log(log_dir: Path) -> dict:
    """Jobs, stages and Python-node accumulators from one event log."""
    files = [p for p in Path(log_dir).iterdir() if p.is_file()]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {len(files)}")
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    acc_meta: dict[int, tuple] = {}

    def stage(sid):
        return stages.setdefault(sid, {
            "tasks": 0, "cpu_ns": 0, "run_ms": 0, "gc_ms": 0, "shuffle_write": 0,
            "spill": 0, "parents": [], "accum": {},
        })

    with open(files[0], encoding="utf-8") as fh:
        for line in fh:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                jobs[e["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id"),
                    "t0": e["Submission Time"] / 1000.0,
                    "t1": None,
                    "stages": list(e.get("Stage IDs", [])),
                }
            elif kind == "SparkListenerJobEnd":
                jobs[e["Job ID"]]["t1"] = e["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                s = stage(e["Stage ID"])
                m = e.get("Task Metrics") or {}
                s["tasks"] += 1
                s["cpu_ns"] += m.get("Executor CPU Time", 0)
                s["run_ms"] += m.get("Executor Run Time", 0)
                s["gc_ms"] += m.get("JVM GC Time", 0)
                s["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                s["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                s = stage(info["Stage ID"])
                s["parents"] = info.get("Parent IDs", [])
                for a in info.get("Accumulables", []):
                    try:
                        s["accum"][a["ID"]] = s["accum"].get(a["ID"], 0) + int(a["Value"])
                    except (TypeError, ValueError):
                        pass
            elif "sparkPlanInfo" in e:
                _walk_plan(e["sparkPlanInfo"], acc_meta)
    return {"jobs": jobs, "stages": stages, "acc_meta": acc_meta}


def _union_s(intervals) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def span_stats(spans: list[dict], log: dict) -> list[dict]:
    """Attribute every job of the event log to a span: by its job group,
    else (jobs a library thread pool submitted without the group) by the
    span whose interval holds its submission time. Returns one stats dict
    per span, in span order."""
    by_group = {s["group"]: i for i, s in enumerate(spans)}
    owned: dict[int, list[int]] = {i: [] for i in range(len(spans))}
    for jid, j in sorted(log["jobs"].items()):
        i = by_group.get(j["group"])
        if i is None:
            i = next((k for k, s in enumerate(spans) if s["t0"] <= j["t0"] <= s["t1"]), None)
        if i is not None:
            owned[i].append(jid)
    stage_owner: dict[int, int] = {}
    for jid in sorted(log["jobs"]):
        for sid in log["jobs"][jid]["stages"]:
            stage_owner.setdefault(sid, jid)
    out = []
    for i, s in enumerate(spans):
        jids = set(owned[i])
        st = [log["stages"][sid] for sid, jid in stage_owner.items()
              if jid in jids and sid in log["stages"]]
        py_ns = py_rows = 0
        for stg in st:
            for acc, val in stg["accum"].items():
                meta = log["acc_meta"].get(acc)
                if meta is None:
                    continue
                name, mtype = meta
                if name == PY_TIME_METRIC:
                    py_ns += val if mtype == "nsTiming" else val * 1_000_000
                else:
                    py_rows += val
        wall = s["t1"] - s["t0"]
        job_iv = [(max(log["jobs"][j]["t0"], s["t0"]), min(log["jobs"][j]["t1"] or s["t1"], s["t1"]))
                  for j in jids]
        out.append({
            "name": s["name"],
            "wall_s": wall,
            "jobs": len(jids),
            "tasks": sum(x["tasks"] for x in st),
            "leaf_tasks": sum(x["tasks"] for x in st if not x["parents"]),
            "task_cpu_s": sum(x["cpu_ns"] for x in st) / 1e9,
            "task_run_s": sum(x["run_ms"] for x in st) / 1e3,
            "gc_s": sum(x["gc_ms"] for x in st) / 1e3,
            "shuffle_write_bytes": sum(x["shuffle_write"] for x in st),
            "spill_bytes": sum(x["spill"] for x in st),
            "driver_gap_s": max(wall - _union_s([iv for iv in job_iv if iv[1] > iv[0]]), 0.0),
            "python_udf_s": py_ns / 1e9,
            "python_rows": py_rows,
        })
    return out


SPARK_KEYS = ("jobs", "tasks", "task_cpu_s", "task_run_s", "gc_s",
              "shuffle_write_bytes", "spill_bytes", "driver_gap_s")


def spark_layer_metrics(stats: list[dict], n_ops: int) -> dict:
    """The ``spark.*`` and ``python.*`` per-layer metrics: totals over the
    measured spans divided by the number of measured operations."""
    n = max(n_ops, 1)
    out = {f"spark.{k}": sum(s[k] for s in stats) / n for k in SPARK_KEYS}
    out["python.udf_s"] = sum(s["python_udf_s"] for s in stats) / n
    out["python.rows"] = sum(s["python_rows"] for s in stats) / n
    return out
