"""anonymise_apply: the CLI ``--dryrun`` and ``--apply`` paths.

One pass is ``build_plan(config)`` then ``execute_plan(dryrun=True)`` (a
read: the affected-row counts the CLI prints before an apply) and
``execute_plan(dryrun=False, output_root=<fresh>)`` (a write: the row-cap
count, the staged parquet write and the journaled promote).

The config covers every strategy family on the string columns and puts
string-only or hash strategies on numeric and date columns, which the
executor downgrades to KEEP. Every table also gets one SET_NULL numeric
column so that all five tables are rewritten. The config is the same for
every seed; the seed sets the data values and the HMAC key.

Output checks, each pass: staged row counts equal the source; a DuckDB
recomputation of the unkeyed masks (md5, REDACT, TRUNCATE, SET_NULL,
EMAIL_FAKE, KEEP) matches by order-insensitive value hash; the HMAC
columns hash identically on every pass.
"""

from __future__ import annotations

import shutil
import time

import duckdb

from perfbench.curate import CurateExport
from perfbench.harness import Tracer, dir_bytes, median
from perfbench.workload import Op, Workload, timed

KEYS = {"customer": "c_custkey", "orders": "o_orderkey", "lineitem": "l_orderkey",
        "documents": "doc_id", "events": "event_id"}
#: the string columns and their strategies, every family at least once
STRING_RULES = [
    ("customer", "c_name", "HASH_HMAC"), ("customer", "c_mktsegment", "KEEP"),
    ("orders", "o_orderstatus", "SET_NULL"), ("orders", "o_orderpriority", "TRUNCATE"),
    ("lineitem", "l_returnflag", "REDACT"), ("lineitem", "l_linestatus", "HASH_SHA256"),
    ("documents", "text", "HASH_SHA256"), ("documents", "lang", "KEEP"),
    ("documents", "source", "EMAIL_FAKE"), ("events", "event_type", "REDACT"),
    ("events", "props", "HASH_HMAC"),
]
FAMILIES = ["HASH_SHA256", "HASH_HMAC", "REDACT", "TRUNCATE", "EMAIL_FAKE", "SET_NULL", "KEEP"]
#: numeric/date columns given strategies their type does not allow
DOWNGRADED = [("customer", "c_acctbal", "REDACT"), ("orders", "o_totalprice", "HASH_HMAC"),
              ("lineitem", "l_shipdate", "EMAIL_FAKE"), ("events", "value", "TRUNCATE"),
              ("documents", "doc_id", "HASH_SHA256")]
SET_NULL_COLS = [("customer", "c_nationkey"), ("orders", "o_custkey"),
                 ("lineitem", "l_suppkey"), ("documents", "n_chars"), ("events", "user_id")]


def config() -> dict:
    """The masking config. It is the same for every seed, so that two seeds
    mask the same columns the same way and differ only in the values (and
    the HMAC key): the work per pass does not depend on the seed."""
    assert {s for _, _, s in STRING_RULES} == set(FAMILIES)
    rules: dict[str, list] = {t: [] for t in KEYS}
    for table, col, strat in STRING_RULES:
        rules[table].append({"name": col, "strategy": strat})
    for table, col, strat in DOWNGRADED:
        rules[table].append({"name": col, "strategy": strat})
    for table, col in SET_NULL_COLS:
        rules[table].append({"name": col, "strategy": "SET_NULL"})
    return {
        "version": 1, "reviewed": True,
        "scope": {"schema": "public", "denylist": []},
        "column_strategy": {},
        "rules": [{"table": f"public.{t}", "columns": c} for t, c in rules.items()],
    }


def _expected_sql(strategy: str, col: str) -> str:
    s = f"coalesce(CAST({col} AS VARCHAR), '')"
    return {
        "HASH_SHA256": f"md5({s})",
        "REDACT": "'***'",
        "TRUNCATE": f"substr({s}, 1, 4)",
        "EMAIL_FAKE": f"md5({s}) || '@example.com'",
        "SET_NULL": "NULL",
    }.get(strategy, col)


def _row_hash(con, cols: list[str], source: str) -> tuple[int, int]:
    """(rows, order-insensitive hash of the rows' text renderings)."""
    text = ", ".join(f"CAST({c} AS VARCHAR)" for c in cols)
    row = con.execute(
        f"SELECT count(*), coalesce(sum(hash({text})::HUGEINT), 0) FROM {source}"
    ).fetchone()
    return int(row[0]), int(row[1])


class AnonymiseApply(Workload):
    name = "anonymise_apply"
    tables = tuple(KEYS)

    def __init__(self, data, work, seed):
        super().__init__(data, work, seed)
        from database_anonymiser_spark.config import config_from_dict
        from database_anonymiser_spark.strategies import set_hmac_key

        set_hmac_key(f"perfbench-hmac-key-{seed}")
        self.config = config_from_dict(config())
        downgraded = {(t, c) for t, c, _ in DOWNGRADED}
        #: the strategy each column should end up with after type safety
        self.effective = {
            (r.table.split(".", 1)[1], c.name):
                "KEEP" if (r.table.split(".", 1)[1], c.name) in downgraded else c.strategy
            for r in self.config.rules for c in r.columns
        }
        self.hmac_hashes: dict[str, tuple] = {}
        self.last_out = None
        self.con = duckdb.connect()
        self.expected = {t: self._expected(t) for t in KEYS}

    def _checked_cols(self, table: str, hmac: bool) -> list[str]:
        return [c for (t, c), s in self.effective.items()
                if t == table and c != KEYS[t] and (s == "HASH_HMAC") == hmac]

    def _expected(self, table: str) -> tuple[int, int]:
        """Order-insensitive hash of the masked non-HMAC columns, from the
        source table through DuckDB."""
        cols = self._checked_cols(table, hmac=False)
        exprs = [KEYS[table]] + [
            _expected_sql(self.effective[(table, c)], c) for c in cols]
        src = f"(SELECT {', '.join(f'{e} AS e{i}' for i, e in enumerate(exprs))} " \
              f"FROM '{self.data / (table + '.parquet')}')"
        return _row_hash(self.con, [f"e{i}" for i in range(len(exprs))], src)

    def load(self, spark, first: bool) -> None:
        from database_anonymiser_spark.catalog import ParquetCatalog

        self.catalog = ParquetCatalog(spark, self.data)
        for t in self.tables:
            self.catalog.schema_of(t)

    def input_rows(self) -> int:
        return sum(self.expected[t][0] for t in self.tables)

    def _plan(self):
        from database_anonymiser_spark.planner import build_plan

        return build_plan(self.config)

    def run_pass(self, spark, tracer) -> list[Op]:
        from database_anonymiser_spark.executor import execute_plan

        n = self.input_rows()
        with tracer.span("apply.dryrun"):
            dry, res = timed("read", "dryrun", lambda: execute_plan(
                self.catalog, self._plan(), dryrun=True), rows=n)
        if dry.ok:
            self._check_result(dry, res)
        out = self.work / f"apply-{self.passes}"
        with tracer.span("apply.apply"):
            op, res = timed("write", "apply", lambda: execute_plan(
                self.catalog, self._plan(), dryrun=False, output_root=out), rows=n)
        if op.ok:
            self._check_result(op, res)
            self._check_output(op, out)
        if self.last_out is not None:
            shutil.rmtree(self.last_out, ignore_errors=True)
        self.last_out = out
        self.passes += 1
        return [dry, op]

    def settle(self, spark) -> list[Op]:
        """Two passes: the passes after the cold one still run ~30 % slower
        while the JIT compiles the hashing and parquet-write paths."""
        off = Tracer()
        return self.run_pass(spark, off) + self.run_pass(spark, off)

    def _check_result(self, op: Op, res) -> None:
        want = {f"public.{t}": self.expected[t][0] for t in self.tables}
        if res.failed_tables or res.rolled_back or res.updated_by_table != want:
            op.ok, op.error = False, f"row counts {res.updated_by_table} != {want}"

    def _check_output(self, op: Op, out) -> None:
        for t in self.tables:
            glob = f"'{out / (t + '.parquet')}/*.parquet'"
            cols = [KEYS[t]] + self._checked_cols(t, hmac=False)
            got = _row_hash(self.con, cols, glob)
            if got != self.expected[t]:
                op.ok, op.error = False, f"{t}: masked value hash {got} != {self.expected[t]}"
                return
            hcols = self._checked_cols(t, hmac=True)
            if hcols:
                h = _row_hash(self.con, [KEYS[t]] + hcols, glob)
                if self.hmac_hashes.setdefault(t, h) != h:
                    op.ok, op.error = False, f"{t}: HMAC columns changed between passes"
                    return

    def space_amp(self, spark) -> float:
        data = sum(p.stat().st_size for p in self.last_out.rglob("*.parquet") if p.is_file())
        return dir_bytes(self.last_out) / data

    def probes(self, spark, tracer) -> dict:
        from database_anonymiser_spark.executor import mask_table

        plans, masks = [], []
        for _ in range(5):
            t0 = time.perf_counter()
            plan = self._plan()
            plans.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            with tracer.span("strategies.mask_table"):
                for t in plan.tables:
                    mask_table(self.catalog, t)
            masks.append(time.perf_counter() - t0)
        files = [p for p in self.last_out.rglob("*.parquet") if p.is_file()]
        in_bytes = sum((self.data / f"{t}.parquet").stat().st_size for t in self.tables)
        # the documents this workload masks are also the corpus the curation
        # and export layers consume; they are measured here, once per traced
        # run, so that every layer has a per-layer figure
        curate = CurateExport(self.data, self.work, self.seed)
        curate.load(spark, first=True)
        return {
            **curate.probes(spark, tracer),
            "planner.build_plan_ms": median(plans) * 1e3,
            "strategies.mask_table_ms": median(masks) * 1e3,
            "executor.output_files": len(files),
            "executor.out_bytes_per_in_byte": sum(p.stat().st_size for p in files) / in_bytes,
        }

    def layer_metrics(self, stats, ops) -> dict:
        dry = median([o.wall_s for o in ops if o.kind == "dryrun"])
        apply = median([o.wall_s for o in ops if o.kind == "apply"])
        return {"executor.dryrun_s": dry, "executor.apply_s": apply,
                "executor.write_s": apply - dry}
