"""SQL UPDATE and DELETE write what they change: one cost rule
(``VersionedTable._dv_hits``) marks a few matched rows dead with deletion
vectors (DVs) and rewrites the touched files otherwise, and a DV'd file
is read in the same parquet scan as any other file. Every read face, the
change feed, maintenance, transactions and the OCC rebase agree with a
pandas model of the table."""

from __future__ import annotations

import os
import re

import pandas as pd
import pytest
from pyspark.sql import functions as F

import database_anonymiser_spark.sources.versioned as V
from database_anonymiser_spark.cli import main as cli_main
from database_anonymiser_spark.sources.spark_datasource import VersionedDataSource
from database_anonymiser_spark.sources.versioned import (
    VersionConflict,
    VersionedTable,
)
from database_anonymiser_spark.sql_dml import execute_dml, execute_utility

SCHEMA = "k long, g int, name string, v double"
COLS = ["k", "g", "name", "v"]


def _model(n: int = 200) -> pd.DataFrame:
    return pd.DataFrame({
        "k": range(n), "g": [i % 5 for i in range(n)],
        "name": [f"n{i}" for i in range(n)], "v": [float(i) for i in range(n)],
    })


def _table(spark, root, model: pd.DataFrame, files: int = 2, **kw):
    """The model as a versioned table of ``files`` key-range files."""
    df = spark.createDataFrame(model[COLS], SCHEMA).repartitionByRange(files, "k")
    return VersionedTable.create(spark, str(root), df, key_col="k", **kw)


def _rows(x) -> list:
    if isinstance(x, pd.DataFrame):
        return sorted(tuple(r) for r in x[COLS].itertuples(index=False))
    return sorted(tuple(r[c] for c in COLS) for r in x.collect())


def _sql(spark, t, stmt: str) -> dict:
    return execute_dml(spark, stmt, {"t": {"root": str(t.root), "pinned": False}})


def _update(m: pd.DataFrame, lo: int, hi: int) -> pd.DataFrame:
    """The model after ``UPDATE t SET name = 'u', v = v + 0.5 WHERE k
    BETWEEN lo AND hi``."""
    m = m.copy()
    hit = m["k"].between(lo, hi)
    m.loc[hit, "name"] = "u"
    m.loc[hit, "v"] += 0.5
    return m


UPD = "UPDATE t SET name = 'u', v = v + 0.5 WHERE k BETWEEN {} AND {}"


def test_sql_update_and_delete_commit_the_rule_and_its_metrics(
    spark, monkeypatch, tmp_path
):
    """Both SQL writes on both paths commit one metrics block: what was
    touched, carried and written, the rows changed, the path the rule
    took and whether a DV attempt fell back to a rewrite. DESCRIBE
    HISTORY shows the same block."""
    m = _model()
    t = _table(spark, tmp_path / "t", m)

    frag = _sql(spark, t, UPD.format(10, 14))
    m = _update(m, 10, 14)
    assert t.commit_op(frag["new_version"]) == "update_dv"
    assert frag["metrics"] == {
        "files_touched": 1, "files_carried": 1, "files_written": 1,
        "rows_updated": 5, "write_path": "dv", "dv_fallback": False,
    }
    frag = _sql(spark, t, "DELETE FROM t WHERE k IN (3, 150)")
    m = m[~m["k"].isin([3, 150])]
    assert t.commit_op(frag["new_version"]) == "delete_dv"
    assert frag["metrics"] == {
        "files_touched": 2, "files_carried": 1, "files_written": 0,
        "rows_deleted": 2, "write_path": "dv", "dv_fallback": False,
    }
    assert _rows(t.snapshot()) == _rows(m)

    # most of a file: the DV collect runs, exceeds its budget, rewrites
    frag = _sql(spark, t, UPD.format(100, 179))
    m = _update(m, 100, 179)
    assert t.commit_op(frag["new_version"]) == "update_where"
    met = frag["metrics"]
    assert (met["write_path"], met["dv_fallback"]) == ("rewrite", True)
    assert met["files_touched"] == 1 and met["files_written"] >= 1
    frag = _sql(spark, t, "DELETE FROM t WHERE k >= 120")
    m = m[m["k"] < 120]
    assert t.commit_op(frag["new_version"]) == "delete_where"
    met = frag["metrics"]
    assert (met["write_path"], met["dv_fallback"]) == ("rewrite", True)
    assert met["rows_deleted"] == 79
    assert _rows(t.snapshot()) == _rows(m)

    # a zero budget rewrites without trying
    monkeypatch.setattr(V, "DV_COLLECT_CAP", 0)
    frag = _sql(spark, t, "DELETE FROM t WHERE k = 5")
    m = m[m["k"] != 5]
    assert frag["metrics"]["write_path"] == "rewrite"
    assert frag["metrics"]["dv_fallback"] is False
    assert _rows(t.snapshot()) == _rows(m)

    hist = execute_utility(
        spark, "DESCRIBE HISTORY t", {"t": {"root": str(t.root), "pinned": False}}
    )["rows"]
    assert [h["metrics"].get("write_path") for h in hist[1:]] == [
        "dv", "dv", "rewrite", "rewrite", "rewrite",
    ]


def test_dv_readd_keeps_the_clustering_mark(spark, tmp_path):
    """A file re-added under a new deletion vector keeps every field of
    its entry, the clustering watermark included: the next incremental
    OPTIMIZE has nothing to recluster."""
    t = _table(spark, tmp_path / "t", _model(40), files=1)
    t.set_clustering(("g",))
    t.optimize_cluster()
    (e,) = t._live_entries()
    assert e["clustered"] == 1
    v = t.delete_where("k = 5")
    assert t.commit_op(v) == "delete_dv"
    (e2,) = t._live_entries()
    assert e2["clustered"] == 1 and e2["path"] == e["path"]
    assert {k: e2[k] for k in e if k not in ("dv", "dv_count")} == {
        k: e[k] for k in e if k not in ("dv", "dv_count")
    }
    assert t.optimize_cluster() == v  # nothing unclustered: no commit


def test_dv_table_agrees_with_a_pandas_model(spark, tmp_path):
    """After DV UPDATE and DELETE: the snapshot, time travel, file
    skipping, the data source's plain face, the change feed, merge,
    restore, compact (which purges the vectors) and erase all agree
    with the model."""
    spark.dataSource.register(VersionedDataSource)
    m0 = _model()
    t = _table(spark, tmp_path / "t", m0)
    v0 = t.latest_version()
    _sql(spark, t, UPD.format(40, 44))
    _sql(spark, t, "DELETE FROM t WHERE k IN (7, 120, 121)")
    v_dv = t.latest_version()
    assert [t.commit_op(v) for v in (v0 + 1, v_dv)] == ["update_dv", "delete_dv"]
    m = _update(m0, 40, 44)
    m = m[~m["k"].isin([7, 120, 121])]

    assert _rows(t.snapshot()) == _rows(m)
    assert _rows(t.snapshot(v0)) == _rows(m0)
    assert t.row_count() == len(m)
    face = spark.read.format("versioned").option("path", str(t.root)).load()
    assert _rows(face) == _rows(m)
    # the updated band lives in the old file (dead) and the new one
    band = t.files_matching({"k": (40, 44)})
    assert len(band) == 2 and sum(1 for e in band if e.get("dv")) == 1
    assert _rows(t.read_where({"k": (40, 44)})) == _rows(m[m["k"].between(40, 44)])

    ev = sorted((r["_change_type"], r["k"]) for r in t.changes(v0, images="both").collect())
    assert ev == sorted(
        [("update_preimage", k) for k in range(40, 45)]
        + [("update_postimage", k) for k in range(40, 45)]
        + [("delete", k) for k in (7, 120, 121)]
    )

    src = spark.createDataFrame([(41, 0, "m", 1.0), (500, 0, "i", 2.0)], SCHEMA)
    t.merge(src, when_matched="update")
    m = pd.concat([m[m["k"] != 41], pd.DataFrame(
        {"k": [41, 500], "g": [0, 0], "name": ["m", "i"], "v": [1.0, 2.0]}
    )])
    assert _rows(t.snapshot()) == _rows(m)

    t.restore(v_dv)
    assert _rows(t.snapshot()) == _rows(_update(m0, 40, 44)[lambda d: ~d["k"].isin([7, 120, 121])])
    t.compact(target_file_bytes=1 << 30)
    assert not any(e.get("dv") for e in t._live_entries())
    assert _rows(t.snapshot()) == _rows(_update(m0, 40, 44)[lambda d: ~d["k"].isin([7, 120, 121])])

    _sql(spark, t, "DELETE FROM t WHERE k = 60")  # a DV again
    assert any(e.get("dv") for e in t._live_entries())
    out = t.erase("k = 61")
    assert out["rows_deleted"] == 1
    import pyarrow.parquet as pq

    for p in (tmp_path / "t").rglob("*.parquet"):
        ks = set(pq.read_table(str(p), columns=["k"]).column(0).to_pylist())
        assert not ks & {7, 60, 61}


def test_dv_update_on_a_keyless_row_tracked_table(spark, tmp_path):
    """A keyless table's change feed identifies rows by ``_row_id``; the
    DV UPDATE's new images keep their ids, so the feed shows updates."""
    m = _model(60)
    df = spark.createDataFrame(m[COLS], SCHEMA).coalesce(1)
    t = VersionedTable.create(
        spark, str(tmp_path / "t"), df, key_col=None, row_tracking=True
    )
    v0 = t.latest_version()
    frag = _sql(spark, t, UPD.format(3, 5))
    assert t.commit_op(frag["new_version"]) == "update_dv"
    got = sorted((r["_change_type"], r["k"], r["name"]) for r in t.changes(v0).collect())
    assert got == [("update", k, "u") for k in (3, 4, 5)]
    assert _rows(t.snapshot().drop(V.ROW_ID_COL)) == _rows(_update(m, 3, 5))


def test_vacuum_keeps_the_sidecars_retained_versions_need(spark, tmp_path):
    m = _model(100)
    t = _table(spark, tmp_path / "t", m, files=1)
    views = {"t": {"root": str(t.root), "pinned": False}}
    _sql(spark, t, "DELETE FROM t WHERE k = 1")
    _sql(spark, t, "DELETE FROM t WHERE k = 2")
    _sql(spark, t, "DELETE FROM t WHERE k = 3")
    assert len(list((t.root / "_dv").glob("*.dv"))) == 3
    execute_utility(spark, "VACUUM t RETAIN 2 VERSIONS", views)
    # the two retained versions' sidecars stay; the oldest one goes
    assert len(list((t.root / "_dv").glob("*.dv"))) == 2
    v = t.latest_version()
    assert _rows(t.snapshot(v - 1)) == _rows(m[~m["k"].isin([1, 2])])
    assert _rows(t.snapshot(v)) == _rows(m[~m["k"].isin([1, 2, 3])])


def test_dv_writes_inside_a_sql_transaction(spark, tmp_path):
    """COMMIT publishes the workspace's DV'd entries with their sidecars
    moved under the table; ROLLBACK leaves the table as it was."""
    data = tmp_path / "data"
    data.mkdir()
    spark.createDataFrame([(1,)], "a int").write.parquet(str(data / "x.parquet"))
    m = _model(100)
    t = _table(spark, tmp_path / "t", m, files=1)
    args = ["--data", str(data), "--versionedTable", f"t={t.root}",
            "--report", str(tmp_path / "report.json")]
    v0 = t.latest_version()
    assert cli_main(["--sql", "BEGIN; " + UPD.format(10, 12)
                     + "; DELETE FROM t WHERE k = 50; ROLLBACK;", *args]) == 0
    assert t.latest_version() == v0
    assert cli_main(["--sql", "BEGIN; " + UPD.format(10, 12)
                     + "; DELETE FROM t WHERE k = 50; COMMIT;", *args]) == 0
    assert t.latest_version() == v0 + 1 and t.commit_op(v0 + 1) == "txn_publish"
    (dvd,) = [e for e in t._live_entries() if e.get("dv")]
    assert not os.path.isabs(dvd["dv"]) and (t.root / dvd["dv"]).is_file()
    assert dvd["dv_count"] == 4
    want = _update(m, 10, 12)
    assert _rows(t.snapshot()) == _rows(want[want["k"] != 50])


def _race(monkeypatch, ops: set, winner):
    """Patch ``_commit`` so the first attempt of an op in ``ops`` lets
    ``winner()`` commit first (once)."""
    orig = V._commit
    fired = {"done": False}

    def interpose(root, version, adds, removes, key_col, **kw):
        if not fired["done"] and kw.get("op") in ops:
            fired["done"] = True
            winner()
        return orig(root, version, adds, removes, key_col, **kw)

    monkeypatch.setattr(V, "_commit", interpose)
    return fired


def test_dv_update_rebases_past_a_disjoint_append(spark, monkeypatch, tmp_path):
    m = _model(100)
    t = _table(spark, tmp_path / "t", m)
    w = VersionedTable(spark, str(t.root))
    fired = _race(monkeypatch, {"update_dv"}, lambda: w.append(
        spark.createDataFrame([(900, 0, "app", 0.0)], SCHEMA)
    ))
    v = t.update_where({"name": "'u'", "v": "v + 0.5"}, "k BETWEEN 20 AND 21",
                       prune={"k": (20, 21)})
    assert fired["done"] and t.commit_op(v) == "update_dv"
    want = pd.concat([_update(m, 20, 21), pd.DataFrame(
        {"k": [900], "g": [0], "name": ["app"], "v": [0.0]}
    )])
    assert _rows(t.snapshot()) == _rows(want)


def test_dv_update_conflicts_with_a_write_to_the_same_file(
    spark, monkeypatch, tmp_path
):
    t = _table(spark, tmp_path / "t", _model(100), files=1)
    w = VersionedTable(spark, str(t.root))
    v0 = t.latest_version()
    _race(monkeypatch, {"update_dv"}, lambda: w.delete_where("k = 30"))
    with pytest.raises(VersionConflict):
        t.update_where({"name": "'u'"}, "k = 31")
    # only the winner committed; the loser's new file stays unreferenced
    assert t.latest_version() == v0 + 1 and t.commit_op(v0 + 1) == "delete_dv"


def test_a_dv_read_is_one_scan(spark, tmp_path):
    """A DV'd snapshot plans no join and no broadcast, and its count runs
    as many Spark jobs as a clean table's."""
    clean = _table(spark, tmp_path / "c", _model(100))
    t = _table(spark, tmp_path / "t", _model(100))
    t.delete_where("k IN (3, 60)")
    t.update_where({"name": "'u'"}, "k = 70")
    assert sum(1 for e in t._live_entries() if e.get("dv")) == 2
    plan = t.snapshot()._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "BroadcastExchange" not in plan

    sc = spark.sparkContext

    def jobs(group: str, df) -> int:
        sc.setJobGroup(group, group)
        try:
            assert df.count() >= 0
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    assert jobs("dv-read-clean", clean.snapshot()) == jobs("dv-read-dv", t.snapshot())
    assert t.snapshot().count() == 98
    assert t.snapshot().where(F.col("k") == 70).first()["name"] == "u"


def test_dv_writes_under_a_root_spark_percent_encodes(spark, tmp_path):
    """Spark renders ``_metadata.file_path`` percent-encoded (a space as
    ``%20``, ``%`` as ``%25``, ``#`` as ``%23``) with non-ASCII letters
    kept; the positions a DV write collects and the read's filter must
    tie to the same files under such a root."""
    m0 = _model()
    t = _table(spark, tmp_path / "tbl dir é%#中", m0)
    v0 = t.latest_version()
    frag = _sql(spark, t, UPD.format(40, 44))
    assert t.commit_op(frag["new_version"]) == "update_dv"
    assert frag["metrics"]["rows_updated"] == 5
    frag = _sql(spark, t, "DELETE FROM t WHERE k IN (7, 120, 121)")
    assert t.commit_op(frag["new_version"]) == "delete_dv"
    assert frag["metrics"]["rows_deleted"] == 3
    assert sum(e.get("dv_count") or 0 for e in t._live_entries()) == 8
    m = _update(m0, 40, 44)
    m = m[~m["k"].isin([7, 120, 121])]
    assert _rows(t.snapshot()) == _rows(m)
    assert _rows(t.snapshot(v0)) == _rows(m0)
    assert t.row_count() == len(m)
    t.compact(target_file_bytes=1 << 30)
    assert _rows(t.snapshot()) == _rows(m)


def test_a_dv_hit_outside_the_touched_files_refuses_the_write(
    spark, monkeypatch, tmp_path
):
    """A collected position that ties to no touched file raises instead
    of committing a write that reports rows it never marked."""
    t = _table(spark, tmp_path / "t", _model(40), files=1)
    v0 = t.latest_version()
    monkeypatch.setattr(VersionedTable, "_dv_uri", lambda self, p: "file:/elsewhere")
    with pytest.raises(RuntimeError, match="outside the write"):
        t.delete_where("k = 5")
    assert t.latest_version() == v0


def test_a_wide_row_update_keeps_its_collect_within_the_byte_budget(
    spark, monkeypatch, tmp_path
):
    """An UPDATE's DV collect brings whole rows to the driver, so its row
    budget is also capped by DV_COLLECT_BYTES at the file's bytes per
    row: wide rows rewrite where a DELETE (positions only) still marks."""
    rnd = __import__("random").Random(7)
    rows = [(k, "".join(rnd.choice("abcdefghij") for _ in range(20_000)))
            for k in range(100)]
    df = spark.createDataFrame(rows, "k long, doc string").coalesce(1)
    t = VersionedTable.create(spark, str(tmp_path / "t"), df, key_col="k")
    (e,) = t._live_entries()
    # three rows' worth of the file's bytes; the share allows five rows
    monkeypatch.setattr(V, "DV_COLLECT_BYTES", e["size"] * 3 // 100 + 1)
    v = t.update_where({"doc": "'x'"}, "k IN (1, 2)")
    assert t.commit_op(v) == "update_dv"
    v = t.update_where({"doc": "'y'"}, "k IN (10, 11, 12, 13)")
    met = t.commit_meta(v)["metrics"]
    assert t.commit_op(v) == "update_where"
    assert (met["write_path"], met["dv_fallback"]) == ("rewrite", True)
    v = t.delete_where("k IN (20, 21, 22, 23)")
    assert t.commit_op(v) == "delete_dv"
    got = {r["k"]: r["doc"] for r in t.snapshot().collect()}
    assert sorted(got) == [k for k in range(100) if k not in (20, 21, 22, 23)]
    assert [got[k] for k in (1, 2, 10, 13)] == ["x", "x", "y", "y"]
    assert got[0] == rows[0][1]


def test_a_dead_span_past_the_bound_rewrites(spark, monkeypatch, tmp_path):
    """A file's read mask covers its first to last dead position, so its
    size follows the dead span, not the file's length; a write that
    would stretch a span past DV_MAX_SPAN rewrites instead."""
    m = _model()
    t = _table(spark, tmp_path / "t", m, files=1)
    v = t.delete_where("k IN (190, 195)")
    assert t.commit_op(v) == "delete_dv"
    # two dead positions at the end of a 200-row file: a 1-byte mask
    pred = str(t._dv_live_predicate(t._dv_map(t._live_entries())))
    assert re.findall(r"X'([0-9A-Fa-f]*)'", pred) == ["21"]
    monkeypatch.setattr(V, "DV_MAX_SPAN", 50)
    v = t.delete_where("k = 160")
    assert t.commit_op(v) == "delete_dv"
    v = t.delete_where("k = 100")
    met = t.commit_meta(v)["metrics"]
    assert (t.commit_op(v), met["dv_fallback"]) == ("delete_where", True)
    assert met["rows_deleted"] == 1
    assert _rows(t.snapshot()) == _rows(m[~m["k"].isin([100, 160, 190, 195])])
