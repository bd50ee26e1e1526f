"""versioned_dml: a closed loop of SQL statements against a versioned table.

One client, no think time. Set-up creates a ``VersionedTable`` from the
orders input (key ``o_orderkey``) and registers it the way the CLI
``--sql`` mode does: the ``versioned`` data source with pushdown, plus the
``customer`` input as a plain view for subqueries. Statements are routed
like the CLI routes them: ``classify_dml`` → ``execute_dml``,
``claim_utility`` → ``execute_utility``, anything else → ``spark.sql``.

One pass is 10 statements in seeded order, half reads and half writes,
then ``OPTIMIZE`` and ``VACUUM ... RETAIN 10 VERSIONS`` (maintenance every
5 writes, so it completes a cycle in every pass):

- reads: 4 key-range aggregates and 1 aggregate over a ``o_custkey``
  range (a non-key predicate);
- writes: a key-band ``MERGE`` (updates plus inserts), two scoped
  ``UPDATE``, a scoped ``DELETE`` and an ``UPDATE ... WHERE o_custkey IN
  (SELECT ...)``. Five writes per pass put the median write inside one
  latency cluster (update/delete) instead of in the gap between two.

Keys come from the live key set, half of the time from its newest fifth
(the band merges insert into), so almost every statement matches rows.

A pandas shadow of the table checks every read answer as it returns and,
at run end, the final snapshot and the oldest version still retained.
Version 0 is checked against the seed table just before the first VACUUM.
"""

from __future__ import annotations

import json
import math
import time

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from perfbench.harness import Tracer, dir_bytes, median
from perfbench.workload import CheckFailed, Op, Workload, check, timed

VIEW = "orders_v"
RETAIN = 10
READS = ["range"] * 4 + ["pred"]
WRITES = ["merge", "update", "update", "delete", "in_subquery"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
MERGE_MATCHED, MERGE_NEW = 400, 100
RANGE_WIDTH, UPDATE_WIDTH, DELETE_WIDTH = 500, 200, 20


def _normalise(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].sort_values("o_orderkey").reset_index(drop=True)
    df["o_orderdate"] = pd.to_datetime(df["o_orderdate"]).astype("datetime64[ns]")
    return df


def _state_hash(df: pd.DataFrame) -> int:
    return int(pd.util.hash_pandas_object(_normalise(df), index=False).sum())


class VersionedDml(Workload):
    name = "versioned_dml"
    tables = ("orders", "customer")
    #: a round here takes ~6 s (the warm-up read starts the Python workers)
    setup_rounds = 3

    def __init__(self, data, work, seed):
        super().__init__(data, work, seed)
        self.root = work / "orders_v"
        self.rng = np.random.default_rng(seed + 1)
        self.shadow = pq.read_table(data / "orders.parquet").to_pandas()
        self.customer = pq.read_table(data / "customer.parquet").to_pandas()
        self.seed_hash = _state_hash(self.shadow)
        self.version_hash = {0: self.seed_hash}
        self.vacuumed = False
        self.version0_error: str | None = None
        self.log: list[dict] = []  # per statement, for the traced metrics

    # ------------------------------------------------------------ set-up

    def load(self, spark, first: bool) -> None:
        from database_anonymiser_spark.catalog import read_parquet_table
        from database_anonymiser_spark.sources.spark_datasource import VersionedDataSource
        from database_anonymiser_spark.sources.versioned import VersionedTable

        orders = read_parquet_table(spark, str(self.data / "orders.parquet"))
        if first:
            VersionedTable.create(spark, self.root, orders, key_col="o_orderkey")
        read_parquet_table(spark, str(self.data / "customer.parquet")).createOrReplaceTempView(
            "customer")
        spark.dataSource.register(VersionedDataSource)
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
        self._register(spark)
        self.views = {VIEW: {"root": str(self.root), "pinned": False}}
        self.schema = orders.schema

    def warm_up(self, spark) -> None:
        """One read through the view: starts the Python workers that serve
        the data source, as the first statement of a session would."""
        spark.sql(f"SELECT count(*) FROM {VIEW}").collect()

    def _register(self, spark):
        (spark.read.format("versioned").option("path", str(self.root))
         .option("pushdown", "true").load().createOrReplaceTempView(VIEW))

    def input_rows(self) -> int:
        return len(self.shadow)

    def rows_per_s(self, ops) -> float:
        """Rows matched by the reads and writes ÷ their summed wall."""
        ops = [o for o in ops if o.cls != "maint"]
        return sum(o.rows for o in ops) / sum(o.wall_s for o in ops)

    # ------------------------------------------------------- statements

    def _band(self, width: int) -> tuple[int, int]:
        keys = self.shadow["o_orderkey"].to_numpy()
        keys.sort()
        n = len(keys)
        width = min(width, n)
        if self.rng.random() < 0.5:
            i = int(self.rng.integers(n - max(n // 5, width), n - width + 1))
        else:
            i = int(self.rng.integers(0, n - width + 1))
        return int(keys[i]), int(keys[i + width - 1])

    def _statement(self, spark, kind: str) -> dict:
        """The SQL text plus how it changes or answers from the shadow."""
        s = self.shadow
        if kind == "range":
            a, b = self._band(RANGE_WIDTH)
            m = s["o_orderkey"].between(a, b)
            return {"sql": f"SELECT count(*) AS n, sum(o_totalprice) AS s FROM {VIEW} "
                           f"WHERE o_orderkey BETWEEN {a} AND {b}",
                    "answer": {None: (int(m.sum()), float(s.loc[m, "o_totalprice"].sum()))},
                    "rows": int(m.sum())}
        if kind == "pred":
            lo = int(self.rng.integers(0, max(len(self.customer) - 100, 1)))
            m = s["o_custkey"].between(lo, lo + 99)
            g = s[m].groupby("o_orderstatus")["o_totalprice"].agg(["count", "sum"])
            return {"sql": f"SELECT o_orderstatus AS k, count(*) AS n, sum(o_totalprice) AS s "
                           f"FROM {VIEW} WHERE o_custkey BETWEEN {lo} AND {lo + 99} "
                           f"GROUP BY o_orderstatus",
                    "answer": {k: (int(r["count"]), float(r["sum"])) for k, r in g.iterrows()},
                    "rows": int(m.sum())}
        if kind == "update":
            a, b = self._band(UPDATE_WIDTH)
            pred = f"o_orderkey BETWEEN {a} AND {b}"

            def apply(df):
                m = df["o_orderkey"].between(a, b)
                df.loc[m, "o_totalprice"] = df.loc[m, "o_totalprice"] + 1.5
                df.loc[m, "o_orderstatus"] = "O"
                return df
            return {"sql": f"UPDATE {VIEW} SET o_totalprice = o_totalprice + 1.5, "
                           f"o_orderstatus = 'O' WHERE {pred}",
                    "pred": pred, "apply": apply, "rows": int(s["o_orderkey"].between(a, b).sum())}
        if kind == "delete":
            a, b = self._band(DELETE_WIDTH)
            pred = f"o_orderkey BETWEEN {a} AND {b}"
            return {"sql": f"DELETE FROM {VIEW} WHERE {pred}", "pred": pred,
                    "apply": lambda df: df[~df["o_orderkey"].between(a, b)],
                    "rows": int(s["o_orderkey"].between(a, b).sum())}
        if kind == "in_subquery":
            nation = int(self.rng.integers(0, 25))
            seg = SEGMENTS[int(self.rng.integers(0, len(SEGMENTS)))]
            prio = PRIORITIES[int(self.rng.integers(0, len(PRIORITIES)))]
            c = self.customer
            subjects = c.loc[(c["c_nationkey"] == nation) & (c["c_mktsegment"] == seg), "c_custkey"]
            pred = (f"o_custkey IN (SELECT c_custkey FROM customer WHERE c_nationkey = {nation} "
                    f"AND c_mktsegment = '{seg}')")

            def apply(df):
                df.loc[df["o_custkey"].isin(subjects), "o_orderpriority"] = prio
                return df
            return {"sql": f"UPDATE {VIEW} SET o_orderpriority = '{prio}' WHERE {pred}",
                    "pred": pred, "apply": apply,
                    "rows": int(s["o_custkey"].isin(subjects).sum())}
        if kind == "merge":
            a, b = self._band(MERGE_MATCHED)
            matched = s.loc[s["o_orderkey"].between(a, b)].copy()
            matched["o_totalprice"] = np.round(self.rng.uniform(900.0, 500_000.0, len(matched)), 2)
            matched["o_orderstatus"] = "F"
            top = int(s["o_orderkey"].max())
            new = matched.head(MERGE_NEW).copy()
            new["o_orderkey"] = np.arange(top + 1, top + 1 + len(new), dtype=np.int64)
            src = pd.concat([matched, new], ignore_index=True)
            spark.createDataFrame(src, schema=self.schema).createOrReplaceTempView("merge_src")

            def apply(df):
                upd = df.set_index("o_orderkey")
                m = matched.set_index("o_orderkey")
                upd.loc[m.index, ["o_totalprice", "o_orderstatus"]] = m[
                    ["o_totalprice", "o_orderstatus"]]
                return pd.concat([upd.reset_index(), new], ignore_index=True)
            return {"sql": f"MERGE INTO {VIEW} AS t USING merge_src AS s "
                           "ON t.o_orderkey = s.o_orderkey "
                           "WHEN MATCHED THEN UPDATE SET o_totalprice = s.o_totalprice, "
                           "o_orderstatus = s.o_orderstatus "
                           "WHEN NOT MATCHED THEN INSERT *",
                    "apply": apply, "rows": len(src)}
        if kind == "optimize":
            return {"sql": f"OPTIMIZE {VIEW}", "apply": lambda df: df, "rows": len(s)}
        if kind == "vacuum":
            return {"sql": f"VACUUM {VIEW} RETAIN {RETAIN} VERSIONS", "rows": 0}
        raise ValueError(kind)

    def _route(self, spark, sql: str):
        from database_anonymiser_spark.sql_dml import (
            claim_utility,
            classify_dml,
            execute_dml,
            execute_utility,
        )

        if classify_dml(sql):
            return execute_dml(spark, sql, self.views)
        if claim_utility(sql, self.views):
            return execute_utility(spark, sql, self.views)
        return spark.sql(sql).collect()

    def _run(self, spark, tracer, kind: str) -> Op:
        from database_anonymiser_spark.sources import versioned as V

        cls = ("read" if kind in ("range", "pred")
               else "maint" if kind in ("optimize", "vacuum") else "write")
        if kind == "vacuum" and not self.vacuumed:
            # retention VACUUM may reclaim version 0's files: check it first
            try:
                self._check_version(spark, 0, self.seed_hash)
            except CheckFailed as e:
                self.version0_error = str(e)
            self.vacuumed = True
        st = self._statement(spark, kind)
        # an OPTIMIZE with nothing to compact commits no version
        before = self._latest(spark) if tracer.enabled and kind == "optimize" else None
        reads0, files0 = V.COMMIT_READS, V.DATA_FILES_READ
        with tracer.span(f"dml.{kind}"):
            op, out = timed(cls, kind, lambda: self._route(spark, st["sql"]), rows=st["rows"])
        rec = {"kind": kind, "cls": cls, "sql": st["sql"], "pred": st.get("pred"),
               "wall_s": op.wall_s, "commit_reads": V.COMMIT_READS - reads0,
               "files_read": V.DATA_FILES_READ - files0, "rows": st["rows"],
               "traced": tracer.enabled}
        if op.ok and cls == "read":
            got = {r["k"] if "k" in r else None: (int(r["n"]), float(r["s"] or 0.0)) for r in out}
            want = st["answer"]
            if got.keys() != want.keys() or any(
                    got[k][0] != want[k][0] or not math.isclose(got[k][1], want[k][1], rel_tol=1e-9)
                    for k in want):
                op.ok, op.error = False, f"read answer {got} != shadow {want}"
        elif op.ok and "apply" in st:
            self.shadow = st["apply"](self.shadow)
            version = out["new_version"] if kind != "optimize" else self._latest(spark)
            self.version_hash[version] = _state_hash(self.shadow)
            if tracer.enabled:
                rec.update(metrics=(out or {}).get("metrics", {}) if kind != "optimize" else {},
                           added_bytes=self._added_bytes(version) if version != before else 0)
        self.log.append(rec)
        return op

    def settle(self, spark) -> list[Op]:
        """One read of each kind: the first filtered read after a session
        start took 1.3-2.5 s instead of ~0.6 s (measured on a 4-core VM),
        even after the warm-up read."""
        return [self._run(spark, Tracer(), k) for k in ("range", "pred")]

    def run_pass(self, spark, tracer) -> list[Op]:
        order = READS + WRITES
        kinds = [order[i] for i in self.rng.permutation(len(order))] + ["optimize", "vacuum"]
        ops = [self._run(spark, tracer, k) for k in kinds]
        self.passes += 1
        return ops

    def _latest(self, spark) -> int:
        """The newest version, from a listing of the log (no replay, so the
        library's caches and counters are left as they were)."""
        from database_anonymiser_spark.sources.versioned import _list_versions

        return _list_versions(self.root)[-1]

    def _added_bytes(self, version: int) -> int:
        from database_anonymiser_spark.sources.versioned import _log_path

        rec = json.loads(_log_path(self.root, version).read_text())
        return sum((self.root / a["path"]).stat().st_size for a in rec.get("adds", []))

    # ------------------------------------------------------------ checks

    def _check_version(self, spark, version: int, want: int) -> None:
        from database_anonymiser_spark.sources.versioned import VersionedTable

        got = _state_hash(VersionedTable(spark, self.root).snapshot(version).toPandas())
        check(got == want, f"version {version} does not read back as the shadow state")

    def final_check(self, spark) -> None:
        from database_anonymiser_spark.sources.versioned import VersionedTable

        check(self.version0_error is None, str(self.version0_error))
        t = VersionedTable(spark, self.root)
        got = _normalise(t.snapshot().toPandas())
        check(got.equals(_normalise(self.shadow.copy())), "final snapshot != shadow model")
        oldest = min(v for v in self.version_hash if v > t.latest_version() - RETAIN)
        self._check_version(spark, oldest, self.version_hash[oldest])

    def space_amp(self, spark) -> float:
        """Bytes under the table root ÷ bytes of the live snapshot's files."""
        from database_anonymiser_spark.sources.versioned import VersionedTable

        return dir_bytes(self.root) / VersionedTable(spark, self.root).detail()["size_bytes"]

    # ----------------------------------------------------------- tracing

    def probes(self, spark, tracer) -> dict:
        from database_anonymiser_spark.sources.versioned import VersionedTable
        from database_anonymiser_spark.sql_dml import classify_dml, derive_prune

        classify, prune, loads = [], [], []
        for rec in self.log:
            t0 = time.perf_counter()
            classify_dml(rec["sql"])
            classify.append(time.perf_counter() - t0)
            if rec["pred"]:
                t0 = time.perf_counter()
                derive_prune(rec["pred"])
                prune.append(time.perf_counter() - t0)
        for _ in range(10):
            with tracer.span("datasource.load"):
                t0 = time.perf_counter()
                self._register(spark)
                loads.append(time.perf_counter() - t0)
        detail = VersionedTable(spark, self.root).detail()
        recs = [r for r in self.log if r["traced"]]
        writes = [r for r in recs if r["cls"] == "write" and "metrics" in r]
        touched = sum(r["metrics"].get("files_touched", 0) for r in writes)
        carried = sum(r["metrics"].get("files_carried", 0) for r in writes)
        row_bytes = detail["size_bytes"] / max(detail["num_rows"], 1)
        changed = sum(r["rows"] for r in writes) * row_bytes
        compacts = [r for r in recs if r["kind"] == "optimize"]
        stmts = [r for r in recs if r["cls"] != "maint"]
        out = {
            "sql_dml.classify_ms": median(classify) * 1e3,
            "sql_dml.derive_prune_ms": median(prune) * 1e3,
            "datasource.load_ms": median(loads) * 1e3,
            "versioned.commit_reads_per_stmt": _mean([r["commit_reads"] for r in stmts]),
            "versioned.data_files_read_per_stmt": _mean([r["files_read"] for r in stmts]),
            "versioned.files_touched_per_write": touched / max(len(writes), 1),
            "versioned.files_carried_ratio": carried / max(carried + touched, 1),
            "versioned.write_amp": sum(r.get("added_bytes", 0) for r in writes) / max(changed, 1),
            "versioned.compact_s": median([r["wall_s"] for r in compacts]) if compacts else 0.0,
            "versioned.compact_bytes_rewritten": _mean([r.get("added_bytes", 0) for r in compacts]),
            "versioned.live_files_end": detail["num_files"],
            "versioned.versions_end": detail["version"],
        }
        for kind in ("update", "delete", "merge", "in_subquery"):
            walls = [r["wall_s"] for r in recs if r["kind"] == kind]
            out[f"sql_dml.execute_ms.{kind}"] = median(walls) * 1e3 if walls else 0.0
        return out

    def layer_metrics(self, stats, ops) -> dict:
        reads = [s for s in stats if s["name"] in ("dml.range", "dml.pred")]
        return {"datasource.files_read_per_read": _mean([s["leaf_tasks"] for s in reads])}


def _mean(xs) -> float:
    return sum(xs) / len(xs) if xs else 0.0
