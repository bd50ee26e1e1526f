"""JSON audit report writer ≅ src/reporting/report-writer.ts:3-5 and the
report shapes assembled in src/main.ts:87-92 (dryrun) / :118-123 (apply)."""

from __future__ import annotations

import json
from pathlib import Path

from database_anonymiser_spark.executor import ExecutionResult
from database_anonymiser_spark.planner import Plan, plan_to_dict


def write_json_report(path: str | Path, payload: dict) -> None:
    Path(path).write_text(json.dumps(payload, indent=2, default=str))


def build_report(mode: str, plan: Plan, result: ExecutionResult) -> dict:
    return {
        "mode": mode,
        "plan": plan_to_dict(plan),
        "result": {
            "updatedByTable": result.updated_by_table,
            "rolledBack": result.rolled_back,
            "tables": [
                {
                    "table": t.table,
                    "rows": t.rows,
                    "skipped": t.skipped,
                    "error": t.error,
                    "downgrades": t.downgrades,
                    "files": t.files,
                    "bytes": t.bytes,
                    "wall_s": t.wall_s,
                    "slices": t.slices,
                }
                for t in result.tables
            ],
        },
        "totalRowsEstimated" if mode == "dryrun" else "totalRowsUpdated": result.total_rows,
    }
