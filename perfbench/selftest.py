#!/usr/bin/env python3
"""Self-test of the benchmark on tiny (sf0.001-like) inputs.

    python3 perfbench/selftest.py [workload ...]

For each workload: one short untraced run must be correct and print every
end-to-end metric with its unit; one short traced run must print every
per-layer metric with its unit; one run with a deliberately corrupted
output must be caught by that workload's check. Also checks that
``BENCHMARK.json`` declares the same metrics and units as ``run.py``.
Exits 0 when every check holds.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pyarrow.parquet as pq

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench import run as R  # noqa: E402
from perfbench.anonymise import AnonymiseApply  # noqa: E402
from perfbench.curate import CurateExport  # noqa: E402
from perfbench.dml import VersionedDml  # noqa: E402

SEED, SECONDS = 7, 2


def _rewrite_first_file(root: Path, edit) -> None:
    """Rewrite one parquet file in place; its checksum sidecar goes, so
    that readers see the edited data instead of a checksum error."""
    path = sorted(root.rglob("*.parquet"))[0]
    pq.write_table(edit(pq.read_table(path)), path)
    path.with_name(f".{path.name}.crc").unlink(missing_ok=True)


class FlippedMask(AnonymiseApply):
    """Flips one masked value in the staged output before it is checked."""

    def _check_output(self, op, out):
        table, col = next((t, c) for (t, c), s in self.effective.items()
                          if s in ("HASH_SHA256", "REDACT", "TRUNCATE", "EMAIL_FAKE"))

        def flip(tbl):
            vals = tbl.column(col).to_pylist()
            vals[0] = "corrupted"
            return tbl.set_column(tbl.schema.get_field_index(col), col, [vals])
        _rewrite_first_file(out / f"{table}.parquet", flip)
        super()._check_output(op, out)


class DroppedShardRow(CurateExport):
    """Drops one row of one exported shard before it is verified."""

    def _export(self, df, out):
        manifest = super()._export(df, out)
        _rewrite_first_file(Path(out) / "data", lambda t: t.slice(1))
        return manifest


class ShadowMismatch(VersionedDml):
    """Changes one row of the shadow model, so the table disagrees with it."""

    def run_pass(self, spark, tracer):
        ops = super().run_pass(spark, tracer)
        top = self.shadow["o_orderkey"].idxmax()
        self.shadow.loc[top, "o_totalprice"] += 1.0
        return ops


CORRUPT = {"anonymise_apply": FlippedMask, "curate_export": DroppedShardRow,
           "versioned_dml": ShadowMismatch}


def _metrics_ok(result: dict, declared: dict) -> list[str]:
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    return [] if got == declared else [f"metrics/units {got} != declared {declared}"]


def check_benchmark_json() -> list[str]:
    bench = json.loads((R.H.ROOT / "BENCHMARK.json").read_text())
    errs = []
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    if e2e != R.END_TO_END:
        errs.append(f"BENCHMARK.json end_to_end {e2e} != run.py {R.END_TO_END}")
    if layer != R.PER_LAYER:
        errs.append(f"BENCHMARK.json per_layer {layer} != run.py {R.PER_LAYER}")
    return errs


def main(argv) -> int:
    names = argv or list(CORRUPT)
    errors = check_benchmark_json()
    for name in names:
        plain = R.run(name, SEED, SECONDS, trace=False, scale="tiny")["result"]
        if not plain["correct"]:
            errors.append(f"{name}: clean run not correct")
        errors += [f"{name}: {e}" for e in _metrics_ok(plain, R.END_TO_END)]
        traced = R.run(name, SEED, SECONDS, trace=True, scale="tiny")["result"]
        if not traced["correct"]:
            errors.append(f"{name}: traced run not correct")
        errors += [f"{name} traced: {e}" for e in _metrics_ok(traced, R.PER_LAYER)]
        bad = R.run(name, SEED, SECONDS, trace=False, scale="tiny", cls=CORRUPT[name])["result"]
        if bad["correct"] or bad["failed"] == 0:
            errors.append(f"{name}: corrupted output was not caught")
        print(f"# {name}: clean={plain['correct']} traced={traced['correct']} "
              f"corrupted_caught={not bad['correct']} failed={bad['failed']}", flush=True)
    for e in errors:
        print("FAIL", e)
    print("selftest", "ok" if not errors else "failed")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
