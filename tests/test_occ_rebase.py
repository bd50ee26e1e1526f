"""OCC auto-rebase beyond MERGE (round 11): ``update_where``,
``delete_where`` (rewrite + DV), ``compact`` and ``optimize_zorder``
re-commit their already-written files across provably-disjoint
concurrent winners — Delta's logical conflict matrix, where a
row-preserving compaction never conflicts with a disjoint data writer.

Interleave technique: monkeypatch the module-level ``_commit`` so the
loser's FIRST commit attempt first lets a winner take the version
number, then proceeds — a deterministic race at the exact chokepoint."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import database_anonymiser_spark.sources.versioned as V
from database_anonymiser_spark.sources.versioned import (
    VersionConflict,
    VersionedTable,
)


def _mk(spark, root, n=80, files=8):
    df = spark.createDataFrame(
        [(i, f"v{i}", i % 7) for i in range(1, n + 1)],
        "k long, name string, grp int",
    ).repartitionByRange(files, "k")
    return VersionedTable.create(spark, str(root), df, key_col="k")


def _race(monkeypatch, ops: set, winner):
    """Patch _commit so the first attempt of an op in ``ops`` lets
    ``winner()`` commit first (exactly once)."""
    orig = V._commit
    fired = {"done": False}

    def interpose(root, version, adds, removes, key_col, **kw):
        if not fired["done"] and kw.get("op") in ops:
            fired["done"] = True
            winner()
        return orig(root, version, adds, removes, key_col, **kw)

    monkeypatch.setattr(V, "_commit", interpose)
    return fired


def test_update_where_rebases_across_disjoint_append(
    spark, monkeypatch, tmp_path
):
    t = _mk(spark, tmp_path / "t")
    w = VersionedTable(spark, str(tmp_path / "t"))

    def winner():
        w.append(
            spark.createDataFrame(
                [(900, "app", 0)], "k long, name string, grp int"
            )
        )

    # prune keeps the update's read set inside k<=10; the winner's added
    # file (k=900) is provably outside it -> rebase succeeds
    _race(monkeypatch, {"update_where"}, winner)
    v = t.update_where(
        {"name": "upper(name)"}, "k <= 10", prune={"k": (None, 10)}
    )
    assert t.commit_op(v) == "update_where"
    snap = {r.k: r.name for r in t.snapshot().collect()}
    assert snap[1] == "V1" and snap[900] == "app" and snap[80] == "v80"


def test_update_where_without_prune_refuses_rebase(
    spark, monkeypatch, tmp_path
):
    t = _mk(spark, tmp_path / "t")
    w = VersionedTable(spark, str(tmp_path / "t"))
    _race(
        monkeypatch, {"update_where", "update_dv"},
        lambda: w.append(
            spark.createDataFrame(
                [(900, "app", 0)], "k long, name string, grp int"
            )
        ),
    )
    # no prune: any winner-added file could hold predicate matches
    with pytest.raises(VersionConflict):
        t.update_where({"name": "upper(name)"}, "k <= 10")


def test_update_where_refuses_when_winner_touches_our_files(
    spark, monkeypatch, tmp_path
):
    t = _mk(spark, tmp_path / "t")
    w = VersionedTable(spark, str(tmp_path / "t"))
    # the winner rewrites the SAME low-key file the loser read
    _race(
        monkeypatch, {"update_where"},
        lambda: w.merge(
            spark.createDataFrame(
                [(1, "W", 0)], "k long, name string, grp int"
            ),
            skip_by="points",
        ),
    )
    with pytest.raises(VersionConflict):
        t.update_where(
            {"name": "upper(name)"}, "k <= 10", prune={"k": (None, 10)}
        )


def test_delete_where_rebases_rewrite_and_dv(spark, monkeypatch, tmp_path):
    # rewrite path
    t = _mk(spark, tmp_path / "a")
    w = VersionedTable(spark, str(tmp_path / "a"))
    _race(
        monkeypatch, {"delete_where"},
        lambda: w.append(
            spark.createDataFrame(
                [(901, "x", 0)], "k long, name string, grp int"
            )
        ),
    )
    v = t.delete_where("k <= 5", prune={"k": (None, 5)})
    assert t.commit_op(v) == "delete_where"
    assert t.row_count() == 76  # 80 - 5 deleted + 1 appended

    # DV path: a 1-row delete of a 10-row file, under a share that allows it
    monkeypatch.setattr(V, "DV_MAX_SHARE", 0.25)
    t2 = _mk(spark, tmp_path / "b")
    w2 = VersionedTable(spark, str(tmp_path / "b"))
    _race(
        monkeypatch, {"delete_dv"},
        lambda: w2.append(
            spark.createDataFrame(
                [(902, "y", 0)], "k long, name string, grp int"
            )
        ),
    )
    v2 = t2.delete_where("k = 3", prune={"k": (3, 3)})
    assert t2.commit_op(v2) == "delete_dv"
    assert t2.snapshot().where("k = 3").count() == 0
    assert t2.snapshot().where("k = 902").count() == 1


def test_compact_rebases_across_disjoint_merge(spark, monkeypatch, tmp_path):
    """The streaming-sink maintenance shape: in-line compaction racing a
    trickle merge — both succeed, nothing lost."""
    t = _mk(spark, tmp_path / "t", n=40, files=8)
    w = VersionedTable(spark, str(tmp_path / "t"))
    _race(
        monkeypatch, {"compact"},
        lambda: w.merge(
            spark.createDataFrame(
                [(500, "M", 1)], "k long, name string, grp int"
            ),
            skip_by="points",
        ),
    )
    v = t.compact(target_file_bytes=1 << 20)
    assert t.commit_op(v) == "compact"
    snap = {r.k: r.name for r in t.snapshot().collect()}
    assert snap[500] == "M" and len(snap) == 41


def test_compact_refuses_when_winner_rewrote_a_small_file(
    spark, monkeypatch, tmp_path
):
    t = _mk(spark, tmp_path / "t", n=40, files=8)
    w = VersionedTable(spark, str(tmp_path / "t"))
    # winner rewrites an existing key -> removes one of the small files
    # the loser is compacting
    _race(
        monkeypatch, {"compact"},
        lambda: w.merge(
            spark.createDataFrame(
                [(1, "W", 1)], "k long, name string, grp int"
            ),
            skip_by="points",
        ),
    )
    with pytest.raises(VersionConflict):
        t.compact(target_file_bytes=1 << 20)


def test_zorder_rebases_and_ddl_winner_refuses(spark, monkeypatch, tmp_path):
    t = _mk(spark, tmp_path / "t", n=40, files=4)
    w = VersionedTable(spark, str(tmp_path / "t"))
    _race(
        monkeypatch, {"optimize_zorder"},
        lambda: w.append(
            spark.createDataFrame(
                [(903, "z", 2)], "k long, name string, grp int"
            )
        ),
    )
    v = t.optimize_zorder(("k", "grp"), file_count=2)
    assert t.commit_op(v) == "optimize_zorder"
    assert t.row_count() == 41
    # the winner's file stays live (unclustered until the next OPTIMIZE)
    assert t.snapshot().where("k = 903").count() == 1

    # DDL winner: refuse (the rewrite was validated under the old schema)
    t2 = _mk(spark, tmp_path / "u", n=40, files=4)
    w2 = VersionedTable(spark, str(tmp_path / "u"))
    _race(
        monkeypatch, {"optimize_zorder"},
        lambda: w2.add_column("extra", "string"),
    )
    with pytest.raises(VersionConflict):
        t2.optimize_zorder(("k",), file_count=2)


def test_streaming_sink_maintenance_survives_trickle_merger(
    spark, monkeypatch, tmp_path
):
    """End-to-end shape from the verdict: a sink running compact_every
    survives a concurrent trickle merger — serialized here as the same
    deterministic interleave at the commit chokepoint."""
    t = _mk(spark, tmp_path / "t", n=40, files=8)
    w = VersionedTable(spark, str(tmp_path / "t"))
    fired = _race(
        monkeypatch, {"compact"},
        lambda: w.merge(
            spark.createDataFrame(
                [(600, "T", 3)], "k long, name string, grp int"
            ),
            skip_by="points",
        ),
    )
    # trickle + maintenance loop: merge new keys, compact every round
    for i in range(3):
        t.merge(
            spark.createDataFrame(
                [(700 + i, f"t{i}", 3)], "k long, name string, grp int"
            ),
            skip_by="points",
        )
        t.compact(target_file_bytes=1 << 20)
    assert fired["done"]
    snap = {r.k for r in t.snapshot().collect()}
    assert {600, 700, 701, 702} <= snap


def test_open_ended_prune_bound_is_unbounded_not_null(spark, tmp_path):
    """Regression (round 11): a ``(None, hi)`` prune bound must mean
    UNBOUNDED — matching files_matching — not a NULL conjunct that
    silently no-ops the row filter."""
    t = _mk(spark, tmp_path / "t", n=20, files=2)
    t.update_where({"name": "upper(name)"}, "k <= 3", prune={"k": (None, 3)})
    snap = {r.k: r.name for r in t.snapshot().collect()}
    assert snap[1] == "V1" and snap[3] == "V3" and snap[4] == "v4"
    t.delete_where("k >= 19", prune={"k": (19, None)})
    assert t.row_count() == 18
