"""Per-file NULL-count statistics + IS (NOT) NULL file skipping
(round 12 — Delta records ``nullCount`` per add precisely so a
``col IS NULL`` backfill touches only files that hold NULLs).

Contract under test: every write path records stats as 3-slot
``[min, max, null_count]`` lists for the declared stats columns;
``files_matching`` / ``read_where`` / ``update_where(prune=)`` /
``delete_where(prune=)`` accept the ``{"col": "isnull"|"notnull"}``
predicate form and prune with it; ``analyze()`` backfills the slot on
old tables; the stat survives checkpoints, CLONE, and column renames;
and the ``format("versioned")`` pushdown face prunes on Spark's own
IsNull/IsNotNull filters (IsNotNull is derived from EVERY comparison,
so all-NULL files prune on ordinary scans)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import database_anonymiser_spark.sources.versioned as V
from database_anonymiser_spark.sources.versioned import VersionedTable


def _scanned(r) -> list:
    """The files a data-source reader's partitions hold, in scan order
    (a partition packs consecutive small files)."""
    return [f for p in r.partitions() for f in p.files]


@pytest.fixture()
def registered(spark):
    from database_anonymiser_spark.sources.spark_datasource import (
        VersionedDataSource,
    )

    spark.dataSource.register(VersionedDataSource)
    return spark


def _mk(spark, root, with_stats=True):
    """4 files: k bands [0,100) [100,200) [200,300) [300,400); only the
    second file holds NULL v rows (k % 10 == 1 within its band), and the
    fourth file is ALL-NULL in v."""
    def band(lo, mode):
        rows = []
        for k in range(lo, lo + 100):
            if mode == "some" and k % 10 == 1:
                rows.append((k, None))
            elif mode == "all":
                rows.append((k, None))
            else:
                rows.append((k, float(k)))
        return spark.createDataFrame(rows, "k long, v double").coalesce(1)

    t = VersionedTable.create(
        spark, str(root), band(0, "none"), key_col="k",
        stats_cols=("v",) if with_stats else (),
    )
    t.append(band(100, "some"))
    t.append(band(200, "none"))
    t.append(band(300, "all"))
    return t


def test_write_paths_record_null_counts(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    ncs = sorted(
        (e["stats"] or {}).get("v", [None, None, None])[2]
        for e in t._live_entries()
    )
    assert ncs == [0, 0, 10, 100]
    # the all-NULL file has a null_count but no min/max — the slots
    # degrade independently
    allnull = [
        e for e in t._live_entries()
        if (e["stats"] or {}).get("v", [None] * 3)[2] == 100
    ][0]
    assert allnull["stats"]["v"][0] is None


def test_files_matching_and_read_where_nullness(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    # isnull: only the two files that hold NULLs survive
    assert len(t.files_matching({"v": "isnull"})) == 2
    # notnull: the all-NULL file is pruned
    assert len(t.files_matching({"v": "notnull"})) == 3
    # conjunction with a range: isnull AND k in the all-NULL band
    assert len(t.files_matching({"v": "isnull", "k": (300, 399)})) == 1

    f0 = V.DATA_FILES_READ
    got = t.read_where({"v": "isnull"})
    assert got.count() == 110
    assert V.DATA_FILES_READ - f0 == 2  # only the NULL-bearing files
    assert got.where(F.col("v").isNotNull()).count() == 0

    f0 = V.DATA_FILES_READ
    assert t.read_where({"v": "notnull"}).count() == 290
    assert V.DATA_FILES_READ - f0 == 3

    with pytest.raises(ValueError, match="isnull"):
        t.files_matching({"v": "null-ish"})


def test_null_scrub_update_touches_only_null_files(spark, tmp_path):
    """The verdict's motivating shape: a NULL-scrub UPDATE on a mostly
    non-null table rewrites ONLY the files with null_count > 0."""
    t = _mk(spark, tmp_path / "t")
    n_files = len(t._live_entries())
    f0 = V.DATA_FILES_READ
    v = t.update_where(
        {"v": F.lit(-1.0)}, F.col("v").isNull(), prune={"v": "isnull"}
    )
    # the two NULL-bearing files, read twice: the deletion-vector
    # collect finds 110 matches over its 10-row budget (5 % of their
    # 200 rows), then the rewrite reads them; clean files never
    assert V.DATA_FILES_READ - f0 == 4
    m = t.commit_meta(v)["metrics"]
    assert m["files_touched"] == 2 and m["files_carried"] == n_files - 2
    assert m["dv_fallback"] is True
    snap = t.snapshot()
    assert snap.where("v = -1.0").count() == 110
    assert snap.where("v IS NULL").count() == 0

    # delete_where under the same prune form: consent-void rows drop
    # without reading clean files
    t2 = _mk(spark, tmp_path / "t2")
    f0 = V.DATA_FILES_READ
    t2.delete_where(F.col("v").isNull(), prune={"v": "isnull"})
    assert V.DATA_FILES_READ - f0 == 4  # DV collect, then the rewrite
    assert t2.row_count() == 290
    assert t2.snapshot().where("v IS NULL").count() == 0


def test_analyze_backfills_null_counts(spark, tmp_path):
    t = _mk(spark, tmp_path / "t", with_stats=False)
    assert len(t.files_matching({"v": "isnull"})) == 4  # no stats: must-scan
    t.analyze(stats_cols=("v",))
    assert len(t.files_matching({"v": "isnull"})) == 2
    assert len(t.files_matching({"v": "notnull"})) == 3


def test_null_counts_survive_checkpoint_clone_and_rename(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    # force past a checkpoint boundary, then reopen cold
    for i in range(V.CHECKPOINT_INTERVAL + 1):
        t.set_properties({"tick": str(i)})
    from database_anonymiser_spark.sources.versioned import _list_checkpoints

    assert _list_checkpoints(t.root)
    cold = VersionedTable(spark, str(tmp_path / "t"))
    assert len(cold.files_matching({"v": "isnull"})) == 2

    # CLONE carries the stats (entries are re-referenced, not re-derived)
    c = VersionedTable.clone(spark, str(tmp_path / "t"), str(tmp_path / "c"))
    assert len(c.files_matching({"v": "isnull"})) == 2

    # column rename: stats keys are PHYSICAL, the logical rename maps
    t.rename_column("v", "w")
    assert len(t.files_matching({"w": "isnull"})) == 2
    assert t.read_where({"w": "isnull"}).count() == 110


def test_datasource_pushdown_prunes_on_nullness(registered, tmp_path):
    from pyspark.sql.datasource import EqualTo, IsNotNull, IsNull

    from database_anonymiser_spark.sources.spark_datasource import (
        _PushdownSnapshotReader,
        _read_file_aligned,
    )

    spark = registered
    root = tmp_path / "p"
    t = _mk(spark, root)
    total = len(t._live_entries())

    r = _PushdownSnapshotReader(str(root))
    kept = r.pushFilters([IsNull(("v",))])
    assert list(kept) == [IsNull(("v",))]  # returned for re-evaluation
    assert len(_scanned(r)) == 2 < total
    # the surviving files' pyarrow scans also evaluate the predicate —
    # exactly the NULL rows leave the executors
    assert sum(b.num_rows for p in _scanned(r)
               for b in _read_file_aligned(p)) == 110

    r2 = _PushdownSnapshotReader(str(root))
    r2.pushFilters([IsNotNull(("v",))])
    assert len(_scanned(r2)) == 3 < total

    # Spark derives IsNotNull from every comparison: an ordinary v > x
    # scan must prune the all-NULL file through the derived filter
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    try:
        df = (
            spark.read.format("versioned")
            .option("path", str(root)).option("pushdown", "true").load()
        )
        assert df.where("v IS NULL").count() == 110
        assert df.where("v IS NOT NULL").count() == 290
        assert df.where("v >= 200.0").count() == 100
    finally:
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "false")


def test_nullness_prune_contract_is_self_consistent(spark, tmp_path):
    """The one-sided prune contract holds for nullness forms too: the
    prune is ALSO applied as a row conjunct, so a too-narrow prune
    narrows the operation consistently instead of per-file."""
    t = _mk(spark, tmp_path / "t")
    # predicate matches everything, prune narrows to NULL rows only —
    # the conjunct makes the operation scope exactly the NULL rows
    t.update_where({"v": F.lit(-5.5)}, F.lit(True), prune={"v": "isnull"})
    snap = t.snapshot()
    assert snap.where("v = -5.5").count() == 110
    assert snap.where("v IS NULL").count() == 0
    # non-null rows outside the prune are untouched
    assert snap.where("v = 42.0").count() == 1
