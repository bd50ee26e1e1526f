"""VersionedTable — transaction log, MERGE with file skipping, time travel
(sources/versioned.py; SURVEY §7 'What's hard': the Delta-style apply path)."""

import json

import pytest
from pyspark.sql import functions as F

from database_anonymiser_spark.sources.versioned import (
    VersionConflict,
    VersionedTable,
    _write_data_files,
)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture()
def table(spark, tmp_path):
    df = spark.createDataFrame(
        [(i, f"name{i}", i * 10.0) for i in range(20)], "k long, name string, v double"
    )
    return VersionedTable.create(spark, tmp_path / "t", df, key_col="k")


def test_create_snapshot_roundtrip(spark, table):
    snap = table.snapshot()
    assert snap.count() == 20
    assert table.latest_version() == 0
    assert table.key_col() == "k"


def test_append_and_time_travel(spark, table):
    more = spark.createDataFrame([(100, "x", 1.0)], "k long, name string, v double")
    v = table.append(more)
    assert v == 1
    assert table.snapshot().count() == 21
    assert table.snapshot(version=0).count() == 20  # time travel


def test_merge_update_and_insert(spark, table):
    src = spark.createDataFrame(
        [(3, "updated3", -3.0), (999, "new", 9.0)], "k long, name string, v double"
    )
    v = table.merge(src, when_matched="update")
    assert v == 1
    got = {r["k"]: (r["name"], r["v"]) for r in table.snapshot().collect()}
    assert got[3] == ("updated3", -3.0)
    assert got[999] == ("new", 9.0)
    assert len(got) == 21
    # time travel: version 0 still has the original row and no insert
    old = {r["k"]: r["name"] for r in table.snapshot(version=0).collect()}
    assert old[3] == "name3" and 999 not in old


def test_merge_delete(spark, table):
    src = spark.createDataFrame([(5,), (6,)], "k long")
    # delete needs full-width source for the dup check only on key; pass keys
    table.merge(src, when_matched="delete", insert_not_matched=False)
    ks = {r["k"] for r in table.snapshot().select("k").collect()}
    assert 5 not in ks and 6 not in ks and len(ks) == 18


def test_merge_full_delete_leaves_readable_empty_table(spark, table):
    src = table.snapshot().select("k")
    table.merge(src, when_matched="delete", insert_not_matched=False)
    snap = table.snapshot()
    assert snap.count() == 0
    assert snap.columns == ["k", "name", "v"]  # schema preserved


def test_merge_rejects_duplicate_source_keys(spark, table):
    src = spark.createDataFrame(
        [(1, "a", 0.0), (1, "b", 0.0)], "k long, name string, v double"
    )
    with pytest.raises(ValueError, match="duplicate"):
        table.merge(src)


def test_merge_file_skipping_carries_untouched_files(spark, tmp_path):
    """Files whose footer key range cannot contain any source key must
    carry over BY REFERENCE (same path in the new version), not be
    rewritten — the data-skipping property that bounds MERGE cost by the
    touched files, not the table size."""
    df = (
        spark.range(300)
        .select(F.col("id").alias("k"), (F.col("id") * 2.0).alias("v"))
        .repartitionByRange(3, "k")
        .sortWithinPartitions("k")
    )
    t = VersionedTable.create(spark, tmp_path / "t", df, key_col="k")
    v0_paths = {e["path"] for e in t._live_entries(0)}
    assert len(v0_paths) == 3

    src = spark.createDataFrame([(1, -1.0), (2, -2.0)], "k long, v double")
    t.merge(src, when_matched="update")
    v1_paths = {e["path"] for e in t._live_entries(1)}
    carried = v0_paths & v1_paths
    # keys 1,2 live in exactly one range-partitioned file; the other two
    # files' [min,max] exclude them and must survive untouched
    assert len(carried) == 2
    got = {r["k"]: r["v"] for r in t.snapshot().collect()}
    assert got[1] == -1.0 and got[2] == -2.0 and got[250] == 500.0


def test_crash_orphans_invisible_and_vacuumed(spark, table):
    """Data files written without a commit (a crashed writer) are invisible
    to snapshots and removed by vacuum; committed files survive vacuum."""
    orphan = spark.createDataFrame([(777, "orphan", 0.0)], "k long, name string, v double")
    _write_data_files(orphan, table.root, "k")  # no commit
    assert table.snapshot().count() == 20  # invisible
    # fresh orphans survive the default in-flight grace window...
    assert table.vacuum() == []
    # ...and are reclaimed once past it (grace 0 = "no concurrent writer")
    removed = table.vacuum(orphan_grace_s=0)
    assert removed, "vacuum must delete the orphan files"
    assert table.snapshot().count() == 20
    assert table.snapshot(version=0).count() == 20  # history intact


def test_version_conflict_on_racing_commit(spark, table, tmp_path):
    """Two writers committing the same version: exclusive create makes the
    second one fail loudly instead of silently clobbering the log."""
    from database_anonymiser_spark.sources.versioned import _commit

    with pytest.raises(VersionConflict):
        _commit(table.root, 0, [], [], "k", op="race")


def test_log_is_json_per_version(table):
    recs = table.history()
    assert [r["version"] for r in recs] == [0]
    assert recs[0]["op"] == "create"
    assert all("path" in a for a in recs[0]["adds"])
    # commit files are well-formed standalone JSON (no partial writes)
    raw = (table.root / "_log" / "00000000.json").read_text()
    assert json.loads(raw)["version"] == 0


def test_optimize_zorder_prunes_both_dimensions(spark, tmp_path):
    """Z-ORDER OPTIMIZE: (1) the rewrite preserves the row set; (2) a box
    predicate prunes files via the recorded per-column stats; (3) unlike a
    LINEAR sort by x (which spreads every y range across all files), the
    z-layout also prunes on y alone; (4) read_where returns exactly the
    filtered rows."""
    grid = [(x, y, x * 100 + y) for x in range(40) for y in range(40)]
    df = spark.createDataFrame(grid, "x int, y int, payload long")

    t = VersionedTable.create(spark, tmp_path / "z", df, key_col="payload")
    v = t.optimize_zorder(("x", "y"), file_count=16)
    assert t.latest_version() == v
    assert _rows(t.snapshot()) == _rows(df)

    total = len(t._live_entries())
    assert total >= 8  # the rewrite actually produced a multi-file layout

    box = {"x": (0, 9), "y": (0, 9)}
    box_files = t.files_matching(box)
    assert len(box_files) < total / 2  # quarter-box -> small corner of the curve
    assert _rows(t.read_where(box)) == _rows(
        df.where((F.col("x") <= 9) & (F.col("y") <= 9))
    )

    y_only = {"y": (0, 4)}
    assert len(t.files_matching(y_only)) < total  # second dim prunes too

    # control: linear x-sorted layout cannot prune on y (every file spans
    # the full y range) — the property z-ordering exists to fix
    lin = VersionedTable.create(
        spark,
        tmp_path / "lin",
        df.repartitionByRange(16, "x").sortWithinPartitions("x"),
        key_col="x",
    )
    lv = lin.optimize_zorder(("x",), file_count=16)  # records x stats only
    assert lin.latest_version() == lv
    y_cannot_prune = lin.files_matching({"y": (0, 4)})
    assert len(y_cannot_prune) == len(lin._live_entries())

    # the optimize commit is a full copy-on-write: every pre-optimize file
    # removed by reference, history intact for time travel
    assert _rows(t.snapshot(version=0)) == _rows(df)


def test_compact_collapses_small_files(spark, tmp_path):
    """compact(): many small append files collapse to one file (tiny table,
    huge target), the row set is unchanged, pre-compaction versions stay
    time-travelable, and a crash-orphan-free vacuum keeps every referenced
    file."""
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(50)], "k long, v string"
    )
    t = VersionedTable.create(spark, tmp_path / "c", df.repartition(4), key_col="k")
    for start in (100, 200, 300):
        t.append(
            spark.createDataFrame(
                [(start + i, f"v{start+i}") for i in range(10)], "k long, v string"
            ).repartition(3)
        )
    before = _rows(t.snapshot())
    n_before = len(t._live_entries())
    assert n_before >= 10  # 4 + 3x3 small files

    v = t.compact()
    assert t.latest_version() == v
    assert len(t._live_entries()) == 1
    assert _rows(t.snapshot()) == before
    assert len(_rows(t.snapshot(version=v - 1))) == len(before)  # time travel
    t.vacuum()
    assert _rows(t.snapshot()) == before  # vacuum never touches referenced files


def test_update_where_scoped_with_pruning(spark, tmp_path):
    """update_where applies assignments only where the predicate is TRUE
    (NULL rows untouched — SQL UPDATE semantics) and, with a prune range,
    carries non-intersecting files by reference."""
    df = (
        spark.range(300)
        .select(
            F.col("id").alias("k"),
            F.when(F.col("id") % 50 == 0, None).otherwise(F.col("id") * 1.0).alias("v"),
        )
        .repartitionByRange(3, "k")
        .sortWithinPartitions("k")
    )
    t = VersionedTable.create(spark, tmp_path / "u", df, key_col="k")
    v0_paths = {e["path"] for e in t._live_entries(0)}
    assert len(v0_paths) == 3

    t.update_where({"v": F.col("v") + 1000.0}, F.col("v") < 10.0, prune={"k": (0, 9)})
    v1_paths = {e["path"] for e in t._live_entries(1)}
    # only the file containing k in [0,9] was rewritten; two carried
    assert len(v0_paths & v1_paths) == 2
    got = {r["k"]: r["v"] for r in t.snapshot().collect()}
    assert got[1] == 1001.0 and got[9] == 1009.0
    assert got[151] == 151.0      # untouched file
    assert got[0] is None         # NULL predicate row untouched
    assert got[50] is None


def test_delete_where_and_restore(spark, table):
    v1 = table.delete_where(F.col("k") % 2 == 0)
    assert table.latest_version() == v1
    ks = {r["k"] for r in table.snapshot().select("k").collect()}
    assert ks == {k for k in range(20) if k % 2 == 1}
    # restore is a forward commit: history intact, live set = version 0's
    v2 = table.restore(0)
    assert table.latest_version() == v2
    assert table.snapshot().count() == 20
    assert table.snapshot(version=v1).count() == 10  # bad version still travelable
    # restore is pure metadata: live files of v2 ARE v0's files
    assert {e["path"] for e in t_live(table, v2)} == {e["path"] for e in t_live(table, 0)}


def t_live(table, v):
    return table._live_entries(v)


def test_diff_classifies_insert_update_delete_and_excludes_carried(spark, table):
    # v1: update k=3, delete k=5, insert k=999
    src = spark.createDataFrame(
        [(3, "upd", -3.0), (999, "new", 9.0)], "k long, name string, v double"
    )
    table.merge(src, when_matched="update")
    table.delete_where(F.col("k") == 5)
    # v3: pure layout rewrite — must contribute NOTHING to the diff
    table.compact()
    d = {r["k"]: r["_change_type"] for r in table.diff(0).collect()}
    assert d == {3: "update", 5: "delete", 999: "insert"}
    rows = {r["k"]: r for r in table.diff(0).collect()}
    assert rows[3]["name"] == "upd"      # update carries the NEW image
    assert rows[5]["name"] == "name5"    # delete carries the OLD image
    # append-only interval: only inserts, no join against the full table
    v = table.append(
        spark.createDataFrame([(1234, "a", 0.0)], "k long, name string, v double")
    )
    d2 = table.diff(v - 1, v)
    assert [(r["k"], r["_change_type"]) for r in d2.collect()] == [(1234, "insert")]


def test_update_where_empty_prune_commits_noop_version(spark, table):
    v = table.update_where({"v": F.lit(0.0)}, F.col("k") > 5, prune={"k": (10_000, 20_000)})
    assert table.latest_version() == v
    assert table.snapshot().count() == 20
    assert {r["v"] for r in table.snapshot().where("k > 5").collect()} != {0.0}


def test_append_merge_schema_evolution(spark, table):
    """Additive schema evolution: an append that ADDS a column is accepted
    under merge_schema=True (old files NULL-fill at read); an append that
    LACKS a column gets it NULL-backfilled; type changes always reject;
    merge and diff keep working across the evolution boundary."""
    import pytest as _pt

    wide = spark.createDataFrame(
        [(500, "w", 1.0, "extra")], "k long, name string, v double, note string"
    )
    with _pt.raises(ValueError, match="merge_schema=True"):
        table.append(wide)
    v1 = table.append(wide, merge_schema=True)
    snap = table.snapshot()
    assert set(snap.columns) == {"k", "name", "v", "note"}
    got = {r["k"]: r["note"] for r in snap.collect()}
    assert got[500] == "extra" and got[3] is None  # old rows NULL-fill

    narrow = spark.createDataFrame([(600, "n")], "k long, name string")
    table.append(narrow, merge_schema=True)
    r600 = table.snapshot().where("k = 600").collect()[0]
    assert r600["v"] is None and r600["note"] is None  # backfilled

    # a NARROWER-widenable frame type upcasts automatically (round 10,
    # the type-widening writer contract): v int -> the table's double
    up = spark.createDataFrame([(700, "u", 7)], "k long, name string, v int")
    table.append(up, merge_schema=True)
    assert table.snapshot().where("k = 700").first()["v"] == 7.0
    # a genuine (lossy/cross-family) type change still always rejects
    bad = spark.createDataFrame(
        [(1, "x", "oops")], "k long, name string, v string"
    )
    with _pt.raises(ValueError, match="types"):
        table.append(bad, merge_schema=True)

    # merge across the boundary: touched pre-evolution files align to the
    # evolved schema; diff classifies the update correctly
    src = spark.createDataFrame(
        [(3, "upd", -3.0, "tagged")], "k long, name string, v double, note string"
    )
    v_m = table.merge(src, when_matched="update")
    r3 = table.snapshot().where("k = 3").collect()[0]
    assert (r3["name"], r3["note"]) == ("upd", "tagged")
    d = {r["k"]: r["_change_type"] for r in table.diff(v1, v_m).collect()}
    assert d[3] == "update" and d[600] == "insert"


def test_change_feed_reconstructs_table_state(spark, tmp_path):
    """Incremental change-feed consumption (streaming/pipeline.py::
    versioned_change_feed): applying each pull's insert/update/delete rows
    onto the consumer's copy reproduces the table snapshot exactly, across
    multiple pulls with interleaved merge/delete/compact commits; an idle
    pull returns (None, cursor) unchanged."""
    from database_anonymiser_spark.streaming.pipeline import versioned_change_feed

    df = spark.createDataFrame(
        [(i, f"n{i}", i * 1.0) for i in range(30)], "k long, name string, v double"
    )
    t = VersionedTable.create(spark, tmp_path / "cdc", df, key_col="k")
    state = {r["k"]: (r["name"], r["v"]) for r in t.snapshot().collect()}
    cursor = 0

    def apply_pull():
        nonlocal cursor
        changes, cursor2 = versioned_change_feed(spark, str(tmp_path / "cdc"), cursor)
        if changes is not None:
            for r in changes.collect():
                if r["_change_type"] == "delete":
                    state.pop(r["k"], None)
                else:
                    state[r["k"]] = (r["name"], r["v"])
        cursor = cursor2

    # interval 1: merge (update k=2, insert k=100)
    t.merge(
        spark.createDataFrame(
            [(2, "upd", -2.0), (100, "new", 1.0)], "k long, name string, v double"
        )
    )
    apply_pull()
    assert state == {
        r["k"]: (r["name"], r["v"]) for r in t.snapshot().collect()
    }

    # interval 2: delete + compaction (compaction must contribute nothing)
    t.delete_where(F.col("k") < 5)
    t.compact()
    apply_pull()
    assert state == {
        r["k"]: (r["name"], r["v"]) for r in t.snapshot().collect()
    }
    assert 2 not in state and 100 in state

    # idle pull: no new commits
    changes, c2 = versioned_change_feed(spark, str(tmp_path / "cdc"), cursor)
    assert changes is None and c2 == cursor


def test_update_where_rejects_unknown_assignment_column(spark, table):
    """A typo'd assignment column must raise, not commit a silent no-op
    version (round-5 advice)."""
    with pytest.raises(ValueError, match="absent from the table schema"):
        table.update_where({"nmae": F.lit("x")}, F.col("k") < 5)
    assert table.latest_version() == 0  # nothing committed


def test_update_where_narrow_prune_is_consistent_not_per_file(spark, tmp_path):
    """Prune contract (round-5 advice): a prune NARROWER than the predicate
    must narrow the operation consistently — the prune range is applied as
    a row-level conjunct, so unskipped files cannot update rows outside it
    while skipped files keep theirs. Files outside the prune still carry
    over by reference."""
    df = (
        spark.range(300)
        .select(F.col("id").alias("k"), (F.col("id") * 1.0).alias("v"))
        .repartitionByRange(3, "k")
        .sortWithinPartitions("k")
    )
    t = VersionedTable.create(spark, tmp_path / "t", df, key_col="k")
    v0_paths = {e["path"] for e in t._live_entries(0)}
    # predicate matches EVERY row; prune covers only the first file's range
    t.update_where({"v": F.lit(-1.0)}, F.col("v") >= 0.0, prune={"k": (0, 5)})
    got = {r["k"]: r["v"] for r in t.snapshot().collect()}
    assert all(got[k] == -1.0 for k in range(6))
    assert all(got[k] == float(k) for k in range(6, 300))  # outside prune: untouched
    carried = v0_paths & {e["path"] for e in t._live_entries(1)}
    assert len(carried) == 2  # the two non-intersecting files carried by reference


def test_delete_where_narrow_prune_is_consistent(spark, tmp_path):
    df = spark.range(100).select(F.col("id").alias("k"), F.lit(1.0).alias("v"))
    t = VersionedTable.create(spark, tmp_path / "t", df, key_col="k")
    # predicate TRUE for all rows, prune narrows to k in [0, 9]
    t.delete_where(F.col("v") > 0.0, prune={"k": (0, 9)})
    ks = sorted(r["k"] for r in t.snapshot().select("k").collect())
    assert ks == list(range(10, 100))


def test_empty_snapshot_schema_survives_evolution(spark, table):
    """snapshot() of a logically empty table must carry the LATEST schema,
    not the first-ever file's pre-evolution one (round-5 advice)."""
    evolved = spark.createDataFrame(
        [(500, "e", 1.0, "extra")], "k long, name string, v double, tag string"
    )
    table.append(evolved, merge_schema=True)
    table.delete_where(F.lit(True))  # full delete -> logically empty
    snap = table.snapshot()
    assert snap.count() == 0
    assert snap.columns == ["k", "name", "v", "tag"]
    # append validation built on the empty snapshot accepts the evolved shape
    v = table.append(
        spark.createDataFrame(
            [(1, "a", 0.0, "t")], "k long, name string, v double, tag string"
        )
    )
    assert table.snapshot(v).count() == 1


def test_checkpoint_bounds_commit_reads_and_preserves_snapshots(spark, tmp_path):
    """Log checkpoints (round-5 verdict #1): every CHECKPOINT_INTERVAL
    commits a full-state checkpoint is written; (a) snapshots are equal
    across the checkpoint boundary (including merges/deletes replayed
    through it), (b) a state read parses only the tail commits after the
    newest checkpoint, never the whole history."""
    import database_anonymiser_spark.sources.versioned as V

    df0 = spark.createDataFrame([(0, "r0")], "k long, s string")
    t = VersionedTable.create(spark, tmp_path / "t", df0, key_col="k")
    for i in range(1, 15):
        t.append(spark.createDataFrame([(i, f"r{i}")], "k long, s string"))
    # v15: merge-update k=3; v16..v21 appends; v22: delete k=5
    t.merge(spark.createDataFrame([(3, "upd")], "k long, s string"))
    for i in range(16, 22):
        t.append(spark.createDataFrame([(i, f"r{i}")], "k long, s string"))
    t.delete_where(F.col("k") == 5)
    assert t.latest_version() == 22
    assert V._list_checkpoints(t.root) == [10, 20]

    # (a) snapshot equality across the boundary: versions 9/10/11 replay
    # pre-, at-, and post-checkpoint; all content checks out
    for v, n in ((9, 10), (10, 11), (11, 12), (20, 20), (21, 21), (22, 20)):
        assert t.snapshot(v).count() == n
    got = {r["k"]: r["s"] for r in t.snapshot().collect()}
    assert got[3] == "upd" and 5 not in got and len(got) == 20

    # (b) bounded reads: replaying v22 loads checkpoint 20 + commits 21,22
    before = V.COMMIT_READS
    t._live_entries(22)
    assert V.COMMIT_READS - before <= 2
    # and even the latest-version probe stays within one interval
    before = V.COMMIT_READS
    t.snapshot()
    assert V.COMMIT_READS - before <= V.CHECKPOINT_INTERVAL


def test_retention_vacuum_reclaims_churn_keeps_retained(spark, table):
    """vacuum(retain_versions=K) (round-5 verdict #1): copy-on-write churn
    files outside the newest K versions' live sets are reclaimed (bytes
    freed > 0), retained versions stay time-travelable, and reads of
    vacuumed-out versions fail loudly rather than silently."""
    for i in range(5):
        src = spark.createDataFrame(
            [(3, f"u{i}", float(i))], "k long, name string, v double"
        )
        table.merge(src)
    latest = table.latest_version()
    freed = sum(
        (table.root / p).stat().st_size if (table.root / p).exists() else 0
        for p in []
    )
    removed = table.vacuum(retain_versions=3)
    assert removed, "retention vacuum must reclaim superseded churn files"
    for v in range(latest - 2, latest + 1):
        assert table.snapshot(v).count() == 20  # retained: intact
    got = {r["k"]: r["name"] for r in table.snapshot().collect()}
    assert got[3] == "u4"
    with pytest.raises(Exception):
        table.snapshot(0).collect()  # outside retention: loud failure
    with pytest.raises(ValueError):
        table.vacuum(retain_versions=0)


def test_concurrent_writers_one_wins_loser_retries_no_double_reference(spark, table):
    """Optimistic-concurrency contract (round-5 verdict #6): two writers
    prepare AGAINST THE SAME base version; exactly one commit wins, the
    loser's commit raises VersionConflict, its retry against the refreshed
    state succeeds, and no data file ends up referenced twice across the
    log."""
    from database_anonymiser_spark.sources.versioned import _commit

    base = table.latest_version()
    # both writers phase-1 write (invisible) against base
    a_adds = _write_data_files(
        spark.createDataFrame([(100, "a", 1.0)], "k long, name string, v double"),
        table.root,
        "k",
    )
    b_adds = _write_data_files(
        spark.createDataFrame([(200, "b", 2.0)], "k long, name string, v double"),
        table.root,
        "k",
    )
    _commit(table.root, base + 1, a_adds, [], "k", op="append")  # A wins
    with pytest.raises(VersionConflict):
        _commit(table.root, base + 1, b_adds, [], "k", op="append")  # B loses
    # B's retry: refresh the latest version, re-commit (blind append — no
    # state dependency, so the same prepared files are reusable)
    v2 = table.latest_version() + 1
    assert v2 == base + 2
    _commit(table.root, v2, b_adds, [], "k", op="append")
    ks = {r["k"] for r in table.snapshot().select("k").collect()}
    assert {100, 200} <= ks and len(ks) == 22
    # no data file is referenced by more than one commit's adds
    all_adds = [a["path"] for rec in table.history() for a in rec["adds"]]
    assert len(all_adds) == len(set(all_adds))
    # and the loser's first attempt left no stray tmp files in the log dir
    assert not list((table.root / "_log").glob("*.tmp"))


def test_versioned_ann_index_lifecycle(spark, sf_dir, tmp_path):
    """Round-5 verdict #5: the ANN index as a maintained artifact. Build →
    commit → probed query → corpus moves → REBUILD (new version) → query
    reflects the new build → TIME-TRAVEL query against the old build uses
    the OLD codebook+codes → retention vacuum reclaims the superseded
    build. Results are cross-checked against the per-call ivf_int8 path
    (same corpus, same params → identical answers)."""
    from database_anonymiser_spark.operators.index_store import VersionedAnnIndex
    from database_anonymiser_spark.operators.similarity import (
        ivf_int8_index,
        ivf_int8_topk,
        train_ivf_codebook,
    )
    from database_anonymiser_spark.suite.base import load

    emb = load(spark, sf_dir, "embeddings")
    idx = VersionedAnnIndex(spark, tmp_path / "ann")
    v0 = idx.rebuild(emb, "vec_id", "embedding", n_centroids=8, n_iter=2)
    assert v0 == 0
    meta = idx.table.commit_meta(0)
    assert meta["kind"] == "ivf_int8" and len(meta["centroids"]) == 8

    got0 = idx.query(emb, "vec_id", "embedding", query_id=3, k=5).collect()
    # cross-check vs the per-call (unversioned) path: identical answers
    cb = train_ivf_codebook(emb, "vec_id", "embedding", 8, 2)
    per_call = ivf_int8_topk(
        ivf_int8_index(emb, "vec_id", "embedding", cb),
        emb, "vec_id", "embedding", 3, cb, k=5,
    ).collect()
    assert [(r["vec_id"], r["cosine"]) for r in got0] == [
        (r["vec_id"], r["cosine"]) for r in per_call
    ]

    # corpus moves: drop half the vectors, rebuild -> version 1
    emb2 = emb.where(F.col("vec_id") % 2 == 0)
    v1 = idx.rebuild(emb2, "vec_id", "embedding", n_centroids=8, n_iter=2)
    assert v1 == 1
    got1 = idx.query(emb2, "vec_id", "embedding", query_id=4, k=5).collect()
    assert got1 and all(r["vec_id"] % 2 == 0 for r in got1)  # new build served

    # time travel: the v0 build still answers with ODD ids present and
    # uses v0's own codebook (centroids differ between builds)
    old = idx.query(emb, "vec_id", "embedding", query_id=3, k=5, version=0)
    assert [(r["vec_id"], r["cosine"]) for r in old.collect()] == [
        (r["vec_id"], r["cosine"]) for r in got0
    ]
    assert idx.centroids(0) != idx.centroids(1)

    # retention: keep only the newest build; v0's files are reclaimed,
    # v1 queries keep working
    removed = idx.vacuum(retain_versions=1)
    assert removed
    still = idx.query(emb2, "vec_id", "embedding", query_id=4, k=5).collect()
    assert [(r["vec_id"], r["cosine"]) for r in still] == [
        (r["vec_id"], r["cosine"]) for r in got1
    ]
    with pytest.raises(Exception):
        idx.query(emb, "vec_id", "embedding", query_id=3, k=5, version=0).collect()


def test_versioned_pq_index_lifecycle(spark, sf_dir, tmp_path):
    """PQ variant of the index lifecycle: books ride in the commit meta,
    ADC answers match the per-call pq path, and a REBUILD with different
    codebook training (trained vs training-free) is version-dispatched —
    a time-travel query decodes with the OLD version's own books."""
    from database_anonymiser_spark.operators.index_store import VersionedAnnIndex
    from database_anonymiser_spark.operators.similarity import (
        pq_codebooks,
        pq_index,
        pq_topk,
    )
    from database_anonymiser_spark.suite.base import load

    emb = load(spark, sf_dir, "embeddings")
    idx = VersionedAnnIndex(spark, tmp_path / "pq")
    v0 = idx.rebuild_pq(emb, "vec_id", "embedding", trained=False)
    assert v0 == 0 and idx.table.commit_meta(0)["kind"] == "pq"

    got0 = idx.query(emb, "vec_id", "embedding", query_id=7, k=5).collect()
    books = pq_codebooks(emb, "vec_id", "embedding")
    per_call = pq_topk(
        pq_index(emb, "vec_id", "embedding", books),
        emb, "vec_id", "embedding", 7, books, k=5,
    ).collect()
    assert [(r["vec_id"], r["cosine"]) for r in got0] == [
        (r["vec_id"], r["cosine"]) for r in per_call
    ]

    # rebuild with TRAINED books -> new version answers may differ;
    # time travel to v0 still reproduces the old answers exactly
    v1 = idx.rebuild_pq(emb, "vec_id", "embedding", trained=True, n_iter=2)
    assert v1 == 1
    old = idx.query(emb, "vec_id", "embedding", query_id=7, k=5, version=0).collect()
    assert [(r["vec_id"], r["cosine"]) for r in old] == [
        (r["vec_id"], r["cosine"]) for r in got0
    ]
    new = idx.query(emb, "vec_id", "embedding", query_id=7, k=5).collect()
    assert len(new) == 5  # trained build serves


def test_row_count_is_metadata_only(spark, table):
    """COUNT(*) from the commit log's recorded per-file footer counts —
    matches the scan count at every version, including after merges."""
    assert table.row_count() == 20 == table.snapshot().count()
    table.merge(
        spark.createDataFrame(
            [(3, "u", 0.0), (500, "n", 1.0)], "k long, name string, v double"
        )
    )
    assert table.row_count() == 21 == table.snapshot().count()
    assert table.row_count(0) == 20  # time-travel count too
    # every live entry actually recorded num_rows (no footer fallback)
    assert all(e.get("num_rows") is not None for e in table._live_entries())


def test_compact_bin_packs_only_small_files(spark, tmp_path):
    """Bin-packing compaction (round 6): right-sized files carry over BY
    REFERENCE; only sub-threshold files are rewritten — compaction cost
    is O(small files), not O(table). A table with <2 small files is a
    metadata no-op (no empty commit)."""
    big = spark.range(20_000).select(
        F.col("id").alias("k"), F.md5(F.col("id").cast("string")).alias("v")
    ).coalesce(1)
    t = VersionedTable.create(spark, tmp_path / "t", big, key_col="k")
    big_paths = {e["path"] for e in t._live_entries()}
    for i in range(4):  # four tiny appends
        t.append(
            spark.createDataFrame([(100_000 + i, "s")], "k long, v string").coalesce(1)
        )
    v_before = t.latest_version()
    big_bytes = max(
        (t.root / p).stat().st_size for p in {e["path"] for e in t._live_entries()}
    )
    v = t.compact(target_file_bytes=128 * 1024 * 1024, small_file_bytes=big_bytes)
    assert v == v_before + 1
    after = {e["path"] for e in t._live_entries()}
    assert big_paths <= after  # the big file carried over by reference
    assert len(after) == len(big_paths) + 1  # four tiny files -> one
    assert t.row_count() == 20_004
    # second compact: nothing small left to pack -> metadata no-op
    assert t.compact(small_file_bytes=big_bytes) == v
    assert t.latest_version() == v


def test_ann_index_upsert_matches_full_encode(spark, sf_dir, tmp_path):
    """Incremental index maintenance: upserting the other half of the
    corpus (encoded with the ORIGINAL build's centroids) answers queries
    identically to a one-shot index of the full corpus under those same
    centroids; re-upserting the same delta is idempotent table state."""
    from database_anonymiser_spark.operators.index_store import VersionedAnnIndex
    from database_anonymiser_spark.operators.similarity import (
        ivf_int8_index,
        ivf_int8_topk,
    )
    from database_anonymiser_spark.suite.base import load

    emb = load(spark, sf_dir, "embeddings")
    even = emb.where(F.col("vec_id") % 2 == 0)
    odd = emb.where(F.col("vec_id") % 2 == 1)
    idx = VersionedAnnIndex(spark, tmp_path / "ann")
    idx.rebuild(even, "vec_id", "embedding", n_centroids=8, n_iter=2)
    cb = idx.centroids()
    v1 = idx.upsert(odd, "vec_id", "embedding")
    assert v1 == 1
    got = idx.query(emb, "vec_id", "embedding", query_id=3, k=5).collect()
    ref = ivf_int8_topk(
        ivf_int8_index(emb, "vec_id", "embedding", cb),
        emb, "vec_id", "embedding", 3, cb, k=5,
    ).collect()
    assert [(r["vec_id"], r["cosine"]) for r in got] == [
        (r["vec_id"], r["cosine"]) for r in ref
    ]
    # idempotent re-delivery: a replayed upsert adds a version, not rows
    idx.upsert(odd, "vec_id", "embedding")
    assert idx.table.row_count() == emb.count()


def test_incremental_agg_view_tracks_base_through_mutations(spark, tmp_path):
    """IncrementalAggView: after create + a merge (update/insert) + a
    delete + an append, each refresh's snapshot equals the from-scratch
    aggregate of the base snapshot; a vanished group disappears; refresh
    with no base movement is a no-op; the cursor advances exactly-once."""
    from database_anonymiser_spark.operators.ivm import IncrementalAggView

    rows = [(i, f"g{i % 3}", float(i)) for i in range(30)]
    base = VersionedTable.create(
        spark,
        tmp_path / "base",
        spark.createDataFrame(rows, "k long, g string, v double"),
        key_col="k",
    )
    view = IncrementalAggView.create(spark, tmp_path / "view", base, "g", "v")

    def expect():
        return {
            (r["g"]): (r["n"], r["s"])
            for r in base.snapshot()
            .groupBy("g")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("v").cast("decimal(18,2)")).cast("double").alias("s"),
            )
            .collect()
        }

    def got():
        return {
            r["g"]: (r["n_rows"], r["sum_value"]) for r in view.snapshot().collect()
        }

    assert got() == expect()

    # merge: update two rows (move value), insert two new rows in g0/g1
    base.merge(
        spark.createDataFrame(
            [(1, "g1", 100.0), (2, "g2", 200.0), (100, "g0", 7.0), (101, "g1", 8.0)],
            "k long, g string, v double",
        )
    )
    view.refresh(base)
    assert got() == expect()

    # delete an entire group (g2 keys: 2,5,8,...) -> group vanishes
    base.delete_where(F.col("g") == "g2")
    view.refresh(base)
    e = expect()
    assert got() == e and "g2" not in e

    # append re-creates the group
    base.append(spark.createDataFrame([(500, "g2", 1.5)], "k long, g string, v double"))
    view.refresh(base)
    assert got() == expect()

    # idle refresh: no new view version, cursor stable
    v_before = view.table.latest_version()
    c_before = view.cursor()
    view.refresh(base)
    assert view.table.latest_version() == v_before and view.cursor() == c_before
    assert view.cursor() == base.latest_version()


def test_scd2_dimension_history_and_as_of(spark, tmp_path):
    """SCD Type 2 on the versioned layer: a changed tracked attribute
    closes the current row and opens a new one; new keys insert; an
    untracked change creates NO history; re-applying the same extract is
    an exact no-op (idempotent ingest); as-of reconstruction returns the
    attribute values valid at each business time."""
    from database_anonymiser_spark.operators import scd

    d0 = spark.createDataFrame(
        [(1, "alice", "eng"), (2, "bob", "sales")], "k long, name string, dept string"
    )
    dim = scd.scd2_init(spark, tmp_path / "dim", d0, "k", "2024-01-01")

    # day 2: alice moves dept (tracked), carol joins, bob renames (untracked)
    d1 = spark.createDataFrame(
        [(1, "alice", "ops"), (2, "bobby", "sales"), (3, "carol", "eng")],
        "k long, name string, dept string",
    )
    scd.scd2_apply(dim, d1, "k", tracked_cols=("dept",), ts="2024-02-01")

    cur = {r["k"]: (r["name"], r["dept"]) for r in scd.scd2_current(dim).collect()}
    assert cur == {1: ("alice", "ops"), 2: ("bob", "sales"), 3: ("carol", "eng")}
    hist = dim.snapshot().where(F.col("k") == 1).orderBy("_valid_from").collect()
    assert [(r["dept"], r["_valid_to"], r["_is_current"]) for r in hist] == [
        ("eng", "2024-02-01", False),
        ("ops", None, True),
    ]

    jan = {r["k"]: r["dept"] for r in scd.scd2_as_of(dim, "2024-01-15").collect()}
    feb = {r["k"]: r["dept"] for r in scd.scd2_as_of(dim, "2024-02-15").collect()}
    assert jan == {1: "eng", 2: "sales"} and feb == {1: "ops", 2: "sales", 3: "eng"}

    # idempotency: same extract, later ts -> nothing changed on tracked
    # attrs that are not already current -> no new version
    v = dim.latest_version()
    scd.scd2_apply(dim, d1, "k", tracked_cols=("dept",), ts="2024-03-01")
    assert dim.latest_version() == v


def test_erase_defeats_time_travel_and_verifies(spark, table):
    """Right-to-erasure: after erase(), the rows are gone from the current
    snapshot, every pre-image file outside the retained version is
    reclaimed (time travel to any earlier version fails at read), and the
    report carries the metadata-derived row delta."""
    table.merge(
        spark.createDataFrame([(3, "upd", -3.0)], "k long, name string, v double")
    )
    rep = table.erase(F.col("k").isin(3, 5, 7))
    assert rep["rows_deleted"] == 3 and rep["files_reclaimed"] > 0
    ks = {r["k"] for r in table.snapshot().select("k").collect()}
    assert not ({3, 5, 7} & ks) and len(ks) == 17
    with pytest.raises(Exception):
        table.snapshot(0).collect()  # pre-image unrecoverable
    assert table.row_count() == 17


def test_check_constraints_enforced_on_writes(spark, table):
    """Delta-style CHECK constraints: add-time validation rejects a
    constraint existing rows violate; append/merge/update_where reject
    violating incoming rows BEFORE anything becomes visible; UNKNOWN
    (NULL predicate) satisfies per SQL CHECK semantics; drop lifts the
    constraint; the constraint set is versioned with the log."""
    from database_anonymiser_spark.sources.versioned import ConstraintViolation

    with pytest.raises(ConstraintViolation):
        table.add_constraint("neg", "v < 0")  # existing rows violate
    table.add_constraint("v_cap", "v <= 1000.0")
    assert table.constraints() == {"v_cap": "v <= 1000.0"}

    bad = spark.createDataFrame([(900, "x", 5000.0)], "k long, name string, v double")
    n_before = table.snapshot().count()
    with pytest.raises(ConstraintViolation, match="v_cap"):
        table.append(bad)
    with pytest.raises(ConstraintViolation):
        table.merge(bad)
    with pytest.raises(ConstraintViolation):
        table.update_where({"v": F.lit(9999.0)}, F.col("k") == 1)
    assert table.snapshot().count() == n_before  # nothing landed

    # UNKNOWN satisfies: NULL v passes the check (SQL CHECK semantics)
    table.append(
        spark.createDataFrame([(901, "y", None)], "k long, name string, v double")
    )
    # compliant writes still work; delete-merge needs no row validation
    table.merge(
        spark.createDataFrame([(902, "z", 10.0)], "k long, name string, v double")
    )
    assert table.snapshot().count() == n_before + 2

    v_with = table.latest_version()
    table.drop_constraint("v_cap")
    table.append(bad)  # allowed now
    assert table.constraints() == {}
    assert table.constraints(version=v_with) == {"v_cap": "v <= 1000.0"}


def test_randomized_op_sequence_matches_python_twin(spark, tmp_path):
    """Seeded randomized mutation sequence (merge-update / merge-delete /
    append / delete_where / update_where / compact / zorder) checked after
    EVERY op against a pure-Python dict twin, and the incremental view
    stays equal to the from-scratch aggregate throughout — one test that
    exercises the storage layer's operations composed in arbitrary order,
    across checkpoint boundaries (the sequence commits >10 versions)."""
    import random

    from database_anonymiser_spark.operators.ivm import IncrementalAggView

    rng = random.Random(42)
    state = {k: (f"g{k % 4}", float(k)) for k in range(40)}  # k -> (g, v)
    base = VersionedTable.create(
        spark,
        tmp_path / "base",
        spark.createDataFrame(
            [(k, g, v) for k, (g, v) in state.items()], "k long, g string, v double"
        ),
        key_col="k",
    )
    view = IncrementalAggView.create(spark, tmp_path / "view", base, "g", "v")
    next_key = 1000

    def spark_state():
        return {r["k"]: (r["g"], r["v"]) for r in base.snapshot().collect()}

    def view_expect():
        out = {}
        for k, (g, v) in state.items():
            n, s = out.get(g, (0, 0.0))
            out[g] = (n + 1, round(s + v, 2))
        return out

    for step in range(14):
        op = rng.choice(["mupd", "mdel", "append", "delw", "updw", "compact", "zorder"])
        if op == "mupd":
            ks = rng.sample(sorted(state), min(3, len(state))) + [next_key]
            rows = [(k, f"g{k % 4}", float(rng.randint(0, 99))) for k in ks]
            next_key += 1
            base.merge(spark.createDataFrame(rows, "k long, g string, v double"))
            for k, g, v in rows:
                state[k] = (g, v)
        elif op == "mdel" and len(state) > 5:
            ks = rng.sample(sorted(state), 2)
            base.merge(
                spark.createDataFrame([(k,) for k in ks], "k long"),
                when_matched="delete",
                insert_not_matched=False,
            )
            for k in ks:
                state.pop(k)
        elif op == "append":
            rows = [(next_key + i, f"g{i}", float(i)) for i in range(2)]
            next_key += 2
            base.append(spark.createDataFrame(rows, "k long, g string, v double"))
            for k, g, v in rows:
                state[k] = (g, v)
        elif op == "delw" and len(state) > 5:
            cut = rng.choice(sorted(state))
            base.delete_where(F.col("k") % 7 == cut % 7)
            state = {k: gv for k, gv in state.items() if k % 7 != cut % 7}
        elif op == "updw":
            base.update_where({"v": F.col("v") + 1.0}, F.col("g") == "g1")
            state = {
                k: (g, v + 1.0 if g == "g1" else v) for k, (g, v) in state.items()
            }
        elif op == "compact":
            base.compact(small_file_bytes=1 << 30)  # everything is small here
        else:
            base.optimize_zorder(("k",), file_count=2)
        assert spark_state() == state, f"divergence after step {step} ({op})"
        view.refresh(base)
        got = {
            r["g"]: (r["n_rows"], round(r["sum_value"], 2))
            for r in view.snapshot().collect()
        }
        assert got == view_expect(), f"view divergence after step {step} ({op})"

    import database_anonymiser_spark.sources.versioned as V

    assert base.latest_version() >= V.CHECKPOINT_INTERVAL  # crossed the boundary

    assert V._list_checkpoints(base.root)  # checkpoints actually engaged


def test_scd2_temporal_join_picks_event_time_version(spark, tmp_path):
    """Event-time dimension join: facts BEFORE a dimension change carry
    the old attribute, facts after carry the new one, facts on unknown
    keys NULL-extend under left join - the late-arriving-fact correctness
    a current-dimension join silently violates."""
    from database_anonymiser_spark.operators import scd

    d0 = spark.createDataFrame([(1, "eng"), (2, "sales")], "k long, dept string")
    dim = scd.scd2_init(spark, tmp_path / "dim", d0, "k", "2024-01-01")
    scd.scd2_apply(
        dim,
        spark.createDataFrame([(1, "ops"), (2, "sales")], "k long, dept string"),
        "k", tracked_cols=("dept",), ts="2024-02-01",
    )

    facts = spark.createDataFrame(
        [(100, 1, "2024-01-15"), (101, 1, "2024-02-15"),
         (102, 1, "2024-02-01"),  # boundary: new version starts AT ts
         (103, 9, "2024-03-01")],  # unknown key
        "event_id long, k long, ets string",
    )
    got = {
        r["event_id"]: r["dept"]
        for r in scd.scd2_temporal_join(facts, dim, "k", "ets").collect()
    }
    assert got == {100: "eng", 101: "ops", 102: "ops", 103: None}
    # each fact matched at most one dimension row (intervals partition time)
    assert scd.scd2_temporal_join(facts, dim, "k", "ets").count() == 4
    # the wrong-but-common alternative for contrast: joining CURRENT gives
    # event 100 the FUTURE dept - exactly what the temporal join prevents
    cur = scd.scd2_current(dim)
    wrong = facts.join(cur, "k", "left").where(F.col("event_id") == 100).collect()
    assert wrong[0]["dept"] == "ops"


def test_scd2_randomized_extract_sequence_matches_twin(spark, tmp_path):
    """Seeded randomized daily extracts applied through scd2_apply,
    checked after every day against a pure-Python interval twin: the
    current slice, full history row count, and as-of reconstruction at
    every past day all match."""
    import random

    from database_anonymiser_spark.operators import scd

    rng = random.Random(7)
    keys = list(range(6))
    depts = ["eng", "ops", "sales"]

    def extract(day):
        # every key present each day; attrs drift randomly
        return [(k, f"name{k}", rng.choice(depts)) for k in keys]

    days = [f"2024-0{m}-01" for m in range(1, 8)]
    first = extract(0)
    dim = scd.scd2_init(
        spark, tmp_path / "dim",
        spark.createDataFrame(first, "k long, name string, dept string"),
        "k", days[0],
    )
    # twin: per key, list of (dept, from, to|None); name untracked
    twin = {k: [(d, days[0], None)] for k, _, d in first}

    for day_i in range(1, len(days)):
        ts = days[day_i]
        rows = extract(day_i)
        scd.scd2_apply(
            dim,
            spark.createDataFrame(rows, "k long, name string, dept string"),
            "k", tracked_cols=("dept",), ts=ts,
        )
        for k, _, d in rows:
            cur = twin[k][-1]
            if cur[0] != d:
                twin[k][-1] = (cur[0], cur[1], ts)
                twin[k].append((d, ts, None))

        got_cur = {r["k"]: r["dept"] for r in scd.scd2_current(dim).collect()}
        assert got_cur == {k: ivs[-1][0] for k, ivs in twin.items()}
        assert dim.snapshot().count() == sum(len(v) for v in twin.values())
        for probe in days[: day_i + 1]:
            got_asof = {
                r["k"]: r["dept"] for r in scd.scd2_as_of(dim, probe).collect()
            }
            want = {
                k: next(
                    d for d, frm, to in ivs
                    if frm <= probe and (to is None or to > probe)
                )
                for k, ivs in twin.items()
            }
            assert got_asof == want, f"as-of {probe} diverged on day {day_i}"


def test_constraints_survive_checkpoint_boundary_with_bounded_reads(spark, tmp_path):
    """The constraint set rides through log checkpoints: after >10 commits
    the active constraints are recovered from checkpoint+tail with bounded
    commit reads, still enforced, and a drop past the boundary clears them."""
    import database_anonymiser_spark.sources.versioned as V
    from database_anonymiser_spark.sources.versioned import ConstraintViolation

    t = VersionedTable.create(
        spark, tmp_path / "t",
        spark.createDataFrame([(0, 1.0)], "k long, v double"), key_col="k",
    )
    t.add_constraint("cap", "v <= 100.0")
    for i in range(1, 13):  # cross the checkpoint at version 10
        t.append(spark.createDataFrame([(i, float(i))], "k long, v double"))
    assert V._list_checkpoints(t.root)
    before = V.COMMIT_READS
    assert t.constraints() == {"cap": "v <= 100.0"}
    assert V.COMMIT_READS - before <= V.CHECKPOINT_INTERVAL  # bounded lookup
    with pytest.raises(ConstraintViolation):
        t.append(spark.createDataFrame([(99, 500.0)], "k long, v double"))
    t.drop_constraint("cap")
    t.append(spark.createDataFrame([(99, 500.0)], "k long, v double"))
    assert t.constraints() == {}


# --------------------------------------------------------------- round 7


def test_cdf_both_images_emits_update_pre_and_postimage(spark, table):
    """diff(images='both') is CDF-faithful (Delta's exact shape): an
    updated key emits TWO rows — update_preimage with the OLD values and
    update_postimage with the NEW — while inserts/deletes emit one row
    each and byte-identical rewrites stay excluded; the compact
    images='new' mode is unchanged."""
    v0 = table.latest_version()
    table.merge(
        spark.createDataFrame(
            [(3, "upd", -3.0), (100, "new", 1.0)], "k long, name string, v double"
        )
    )
    table.delete_where(F.col("k") == 5)
    feed = table.diff(v0, images="both").collect()
    by_type = {}
    for r in feed:
        by_type.setdefault(r["_change_type"], []).append(r)
    assert {r["k"] for r in by_type["insert"]} == {100}
    assert {r["k"] for r in by_type["delete"]} == {5}
    pre = {r["k"]: (r["name"], r["v"]) for r in by_type["update_preimage"]}
    post = {r["k"]: (r["name"], r["v"]) for r in by_type["update_postimage"]}
    assert pre == {3: ("name3", 30.0)} and post == {3: ("upd", -3.0)}
    # pre/post pair count always matches; compact mode unchanged
    compact = {r["k"]: r["_change_type"] for r in table.diff(v0).collect()}
    assert compact == {3: "update", 5: "delete", 100: "insert"}
    with pytest.raises(ValueError):
        table.diff(v0, images="old")


def test_ivm_refresh_reads_only_changed_files(spark, tmp_path):
    """The round-6 verdict's one `weak` finding, closed: IVM refresh
    consumes update pre-images FROM the change feed (images='both') and
    never re-reads the previous base snapshot — on a base with many live
    files, a refresh over a one-file interval constructs reads of the
    interval's changed files (plus the view itself), strictly fewer than
    the base's live file count. DATA_FILES_READ is the file-granular
    analogue of the COMMIT_READS bound."""
    import database_anonymiser_spark.sources.versioned as V
    from database_anonymiser_spark.operators.ivm import IncrementalAggView

    base_df = spark.createDataFrame(
        [(i, i % 3, float(i)) for i in range(40)], "k long, g long, v double"
    ).repartitionByRange(4, "k")
    base = VersionedTable.create(spark, tmp_path / "base", base_df, key_col="k")
    for i in range(10):  # widen the live set: ~14 files
        base.append(
            spark.createDataFrame(
                [(100 + i, (100 + i) % 3, float(i))], "k long, g long, v double"
            ).coalesce(1)
        )
    view = IncrementalAggView.create(spark, tmp_path / "view", base, "g", "v")

    v_since = base.latest_version()
    # one merge touching a single key -> a one-or-two-file interval
    base.merge(spark.createDataFrame([(5, 1, 500.0)], "k long, g long, v double"))
    live_since = {e["path"] for e in base._live_entries(v_since)}
    live_now = {e["path"] for e in base._live_entries()}
    n_changed = len(live_since ^ live_now)
    n_base_live = len(live_now)
    n_view_live = len(view.table._live_entries())
    assert n_changed < n_base_live  # the interval really is small

    before = V.DATA_FILES_READ
    view.refresh(base)
    delta = V.DATA_FILES_READ - before
    assert delta <= n_changed + n_view_live, (
        f"refresh read {delta} files; changed={n_changed} view={n_view_live}"
    )
    assert delta < n_base_live, "refresh must never scan the base's live set"
    # and the result is still exactly the from-scratch aggregate
    want = {
        r["g"]: (r["n"], r["s"])
        for r in base.snapshot()
        .groupBy("g")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("v").cast("decimal(18,2)")).cast("double").alias("s"),
        )
        .collect()
    }
    got = {r["g"]: (r["n_rows"], r["sum_value"]) for r in view.snapshot().collect()}
    assert got == want


def test_ivm_null_group_maintains_without_duplication(spark, tmp_path):
    """NULL group keys (round-6 advice): the view merge joins null-safely,
    so a NULL group row maintains in place across refreshes — never a
    duplicate null-group row, aggregates equal to from-scratch."""
    from database_anonymiser_spark.operators.ivm import IncrementalAggView

    rows = [(1, None, 10.0), (2, "a", 1.0), (3, None, 5.0), (4, "a", 2.0)]
    base = VersionedTable.create(
        spark,
        tmp_path / "base",
        spark.createDataFrame(rows, "k long, g string, v double"),
        key_col="k",
    )
    view = IncrementalAggView.create(spark, tmp_path / "view", base, "g", "v")

    def check():
        want = {
            r["g"]: (r["n"], r["s"])
            for r in base.snapshot()
            .groupBy("g")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("v").cast("decimal(18,2)")).cast("double").alias("s"),
            )
            .collect()
        }
        rows_v = view.snapshot().collect()
        got = {r["g"]: (r["n_rows"], r["sum_value"]) for r in rows_v}
        assert got == want
        assert len(rows_v) == len(got), "duplicate group rows in the view"

    check()
    # touch the NULL group three ways: update, insert, delete
    base.merge(
        spark.createDataFrame(
            [(1, None, 100.0), (9, None, 7.0)], "k long, g string, v double"
        )
    )
    view.refresh(base)
    check()
    base.delete_where(F.col("k") == 3)
    view.refresh(base)
    check()
    # drain the null group entirely -> its row vanishes
    base.delete_where(F.col("g").isNull())
    view.refresh(base)
    check()
    assert all(r["g"] is not None for r in view.snapshot().collect())


def test_ivm_minmax_avg_bounded_recompute(spark, tmp_path):
    """MIN/MAX widening (round-6 verdict #5): inserts merge closed-form;
    deleting a group's minimum (the non-self-maintainable case) triggers a
    re-aggregation bounded to the AFFECTED groups' files — on a base
    z-ordered by the group column the recompute prunes to a strict subset
    of the live files — and the view equals the from-scratch
    min/max/avg/sum/count after every mutation."""
    import database_anonymiser_spark.sources.versioned as V
    from database_anonymiser_spark.operators.ivm import IncrementalAggView

    rows = [(i, i % 5, float(i)) for i in range(100)]
    base = VersionedTable.create(
        spark,
        tmp_path / "base",
        spark.createDataFrame(rows, "k long, g long, v double"),
        key_col="k",
    )
    base.optimize_zorder(("g",), file_count=8)  # cluster + stats by group
    view = IncrementalAggView.create(
        spark, tmp_path / "view", base, "g", "v", minmax=True
    )

    def check():
        want = {
            r["g"]: (r["n"], r["s"], r["mn"], r["mx"], r["av"])
            for r in base.snapshot()
            .groupBy("g")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("v").cast("decimal(18,2)")).cast("double").alias("s"),
                F.min(F.col("v").cast("decimal(18,2)")).cast("double").alias("mn"),
                F.max(F.col("v").cast("decimal(18,2)")).cast("double").alias("mx"),
                (
                    F.sum(F.col("v").cast("decimal(18,2)"))
                    / F.count(F.lit(1))
                )
                .cast("double")
                .alias("av"),
            )
            .collect()
        }
        got = {
            r["g"]: (
                r["n_rows"],
                r["sum_value"],
                r["min_value"],
                r["max_value"],
                r["avg_value"],
            )
            for r in view.snapshot().collect()
        }
        assert got == want

    check()
    # insert-only: new global max in g=2 -> closed-form merge, no recompute
    base.append(spark.createDataFrame([(500, 2, 999.0)], "k long, g long, v double"))
    view.refresh(base)
    check()
    # delete g=2's MINIMUM (k=2, v=2.0) -> extremum loss -> bounded recompute
    v_pre = base.latest_version()
    base.delete_where(F.col("k") == 2, prune={"k": (2, 2)})
    n_live = len(base._live_entries())
    candidates = len(base.files_matching({"g": (2, 2)}))
    assert candidates < n_live, "zorder stats must let the group range prune"
    pre_files = {e["path"] for e in base._live_entries(v_pre)}
    now_files = {e["path"] for e in base._live_entries()}
    n_changed = len(pre_files ^ now_files)
    before = V.DATA_FILES_READ
    view.refresh(base)
    delta = V.DATA_FILES_READ - before
    n_view = len(view.table._live_entries())
    # exactly: interval's changed files + the view + the affected group's
    # candidate files — never the rest of the base
    assert delta <= n_changed + n_view + candidates
    check()
    # update that LOWERS a group's max (pre-image removal of the extremum)
    base.merge(spark.createDataFrame([(500, 2, 1.5)], "k long, g long, v double"))
    view.refresh(base)
    check()


def test_snapshot_schema_served_from_log_not_footers(spark, tmp_path):
    """The table schema comes from the commit log, not parquet footers
    (round-6 verdict #3): a column doctored INTO a live file's footer is
    NOT surfaced by snapshot (and reads stay correct); an empty snapshot
    materializes the logged schema with zero file reads; evolution
    advances the logged schema."""
    import pandas as pd
    import database_anonymiser_spark.sources.versioned as V

    t = VersionedTable.create(
        spark,
        tmp_path / "t",
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, s string"),
        key_col="k",
    )
    # doctor one live file: rewrite it with an extra column in the footer
    entry = t._live_entries()[0]
    p = t.root / entry["path"]
    pdf = pd.read_parquet(p)
    pdf["_smuggled"] = 42
    pdf.to_parquet(p, index=False)
    crc = p.parent / f".{p.name}.crc"
    crc.unlink(missing_ok=True)  # drop Hadoop's stale checksum sidecar
    snap = t.snapshot()
    assert snap.columns == ["k", "s"], "footer columns must not leak into reads"
    assert snap.count() == 2
    # evolution advances the LOG schema; old files NULL-fill by name
    t.append(
        spark.createDataFrame([(3, "c", 7.5)], "k long, s string, extra double"),
        merge_schema=True,
    )
    snap2 = t.snapshot()
    assert snap2.columns == ["k", "s", "extra"]
    got = {r["k"]: r["extra"] for r in snap2.collect()}
    assert got == {1: None, 2: None, 3: 7.5}
    # empty LIVE SET (truncate-style metadata commit): the snapshot
    # materializes the logged schema with zero data-file reads
    from database_anonymiser_spark.sources.versioned import _commit

    v = t.latest_version()
    _commit(
        t.root, v + 1, [], [e["path"] for e in t._live_entries()], "k",
        op="truncate",
    )
    before = V.DATA_FILES_READ
    empty = t.snapshot()
    assert V.DATA_FILES_READ - before == 0
    assert empty.columns == ["k", "s", "extra"] and empty.count() == 0


def test_erase_scrubs_log_stats_and_checkpoints(spark, tmp_path):
    """Erase covers the LOG (round-6 verdict #6 + advice): after erase,
    no reachable metadata file — commit JSON or checkpoint — retains
    boundary values of the erased rows (key stats AND z-order stats
    columns); superseded checkpoints are deleted; the surviving table and
    its file skipping still work."""
    rows = [(1000000 + i, float(2000000 + i)) for i in range(1, 21)]
    t = VersionedTable.create(
        spark,
        tmp_path / "t",
        spark.createDataFrame(rows, "k long, v double"),
        key_col="k",
    )
    for i in range(1, 11):  # churn across a checkpoint boundary
        t.merge(
            spark.createDataFrame(
                [(1000000 + i, float(5000000 + i))], "k long, v double"
            )
        )
    t.optimize_zorder(("k", "v"), file_count=4)  # records v stats too
    import database_anonymiser_spark.sources.versioned as V

    assert V._list_checkpoints(t.root)
    rep = t.erase(F.col("k") <= 1000005, prune={"k": (1000001, 1000005)})
    assert rep["rows_deleted"] == 5
    # the erased keys' boundary values survive in NO _log file — incl.
    # the round-12 parquet checkpoint sidecar, whose entry strings are
    # decoded and searched (a byte scan through snappy would miss them)
    erased_markers = ["1000001", "1000005", "5000001.0", "5000005.0"]
    for p in sorted((t.root / "_log").iterdir()):
        if p.name.endswith(".checkpoint.live"):
            import json as _json

            import pyarrow.parquet as _pq

            text = _json.dumps(_pq.read_table(str(p)).to_pylist())
        else:
            text = p.read_text()
        for m in erased_markers:
            assert m not in text, f"{m} survives in {p.name}"
    # superseded checkpoints are gone; one checkpoint at/after erase remains
    cps = V._list_checkpoints(t.root)
    assert cps and min(cps) >= t.latest_version()
    # surviving rows intact, skipping still prunes on live stats
    assert t.row_count() == 15
    assert {r["k"] for r in t.snapshot().collect()} == {
        1000000 + i for i in range(6, 21)
    }
    assert len(t.files_matching({"k": (1000019, 1000020)})) < len(t._live_entries())


def test_merge_delete_validates_inserted_rows(spark, table):
    """CHECK constraints hold on EVERY write path (round-6 advice): a
    delete-merge with insert_not_matched=True must validate the rows it
    inserts; a pure delete-merge (insert_not_matched=False) skips
    validation and succeeds."""
    from database_anonymiser_spark.sources.versioned import ConstraintViolation

    table.add_constraint("nonneg", "v >= 0")
    bad = spark.createDataFrame(
        [(3, "match", 1.0), (999, "bad", -5.0)], "k long, name string, v double"
    )
    v = table.latest_version()
    with pytest.raises(ConstraintViolation):
        table.merge(bad, when_matched="delete")  # 999 would INSERT
    assert table.latest_version() == v, "failed merge must not commit"
    # pure delete-merge: no inserts -> no row validation needed
    table.merge(bad, when_matched="delete", insert_not_matched=False)
    ks = {r["k"] for r in table.snapshot().select("k").collect()}
    assert 3 not in ks and 999 not in ks


def test_meta_probes_are_o1_commit_reads(spark, sf_dir, tmp_path):
    """Round-6 verdict #2: IVM's cursor lookup and the ANN index's
    codebook lookup probe the newest meta-carrying commit DIRECTLY —
    bounded tiny reads even on long-lived tables, never a history walk."""
    import database_anonymiser_spark.sources.versioned as V
    from database_anonymiser_spark.operators.index_store import VersionedAnnIndex
    from database_anonymiser_spark.operators.ivm import IncrementalAggView
    from database_anonymiser_spark.suite.base import load

    base = VersionedTable.create(
        spark,
        tmp_path / "base",
        spark.createDataFrame(
            [(i, i % 3, float(i)) for i in range(10)], "k long, g long, v double"
        ),
        key_col="k",
    )
    view = IncrementalAggView.create(spark, tmp_path / "view", base, "g", "v")
    for i in range(12):  # 12 refresh commits (crosses a checkpoint)
        base.append(
            spark.createDataFrame(
                [(100 + i, i % 3, 1.0)], "k long, g long, v double"
            ).coalesce(1)
        )
        view.refresh(base)
    before = V.COMMIT_READS
    view.cursor()
    assert V.COMMIT_READS - before <= 2, "cursor must probe the newest commit"

    emb = load(spark, sf_dir, "embeddings").limit(64)
    idx = VersionedAnnIndex(spark, tmp_path / "ann")
    idx.rebuild(emb, "vec_id", "embedding", n_centroids=4, n_iter=1)
    for i in range(6):  # upserts commit NO meta -> probe walks them only
        idx.upsert(emb.where(F.col("vec_id") % 6 == i), "vec_id", "embedding")
    before = V.COMMIT_READS
    idx._index_meta()
    assert V.COMMIT_READS - before <= 7, "meta probe bounded by upserts-since-build"


def test_stats_cols_property_survives_writes(spark, tmp_path):
    """stats_cols is a TABLE PROPERTY (round 7): declared by
    optimize_zorder (or create), every subsequent write path — merge,
    update, delete, compact — records the declared columns' per-file
    [min,max], so data skipping on those columns survives trickle
    mutations instead of degrading to must-scan on rewritten files."""
    rows = [(i, i % 5, float(i)) for i in range(100)]
    t = VersionedTable.create(
        spark,
        tmp_path / "t",
        spark.createDataFrame(rows, "k long, g long, v double"),
        key_col="k",
    )
    t.optimize_zorder(("g",), file_count=4)
    assert t.stats_cols() == ("g",)

    def all_live_have_g_stats():
        return all(
            (e.get("stats") or {}).get("g", [None])[0] is not None
            for e in t._live_entries()
        )

    assert all_live_have_g_stats()
    # a g-scoped update rewrites ONLY the g-matching files; the rewritten
    # files re-record g stats (the property), untouched files keep theirs
    t.update_where({"v": F.lit(0.0)}, F.col("g") == 2, prune={"g": (2, 2)})
    assert all_live_have_g_stats(), "update-rewritten files lost the g stats"
    assert len(t.files_matching({"g": (4, 4)})) < len(t._live_entries())
    # merge / delete / compact keep recording them too (the toy merge
    # rewrites everything into one file - stats presence is the claim)
    t.merge(
        spark.createDataFrame(
            [(5, 1, 500.0), (200, 9, 1.0)], "k long, g long, v double"
        )
    )
    t.delete_where(F.col("k") == 9, prune={"k": (9, 9)})
    t.compact(target_file_bytes=1 << 20)
    assert all_live_have_g_stats(), "merge/delete/compact lost the g stats"


def test_ann_upsert_keeps_cid_stats_and_pruning(spark, sf_dir, tmp_path):
    """Round 7: _cid is the ANN index table's stats property, so upsert
    MERGEs record per-file _cid bounds — probe pruning survives
    incremental maintenance (previously an honest must-scan degradation
    until rebuild). Queries still match the one-shot index exactly."""
    from database_anonymiser_spark.operators.index_store import VersionedAnnIndex
    from database_anonymiser_spark.operators.similarity import (
        ivf_int8_index,
        ivf_int8_topk,
    )
    from database_anonymiser_spark.suite.base import load

    emb = load(spark, sf_dir, "embeddings")
    even = emb.where(F.col("vec_id") % 2 == 0)
    odd = emb.where(F.col("vec_id") % 2 == 1)
    idx = VersionedAnnIndex(spark, tmp_path / "ann")
    idx.rebuild(even, "vec_id", "embedding", n_centroids=8, n_iter=2)
    idx.upsert(odd, "vec_id", "embedding")
    assert all(
        (e.get("stats") or {}).get("_cid", [None])[0] is not None
        for e in idx.table._live_entries()
    ), "upsert-merged files must carry _cid stats"
    cb = idx.centroids()
    got = idx.query(emb, "vec_id", "embedding", query_id=3, k=5).collect()
    ref = ivf_int8_topk(
        ivf_int8_index(emb, "vec_id", "embedding", cb),
        emb, "vec_id", "embedding", 3, cb, k=5,
    ).collect()
    assert [(r["vec_id"], r["cosine"]) for r in got] == [
        (r["vec_id"], r["cosine"]) for r in ref
    ]


def test_timestamp_time_travel(spark, table):
    """TIMESTAMP AS OF (round 7): snapshot_at resolves the newest commit
    at-or-before a wall-clock instant with O(log versions) commit reads;
    a pre-creation timestamp errors loudly; legacy commits without a ts
    field sort first (empty string) rather than crashing."""
    import json as _json

    import database_anonymiser_spark.sources.versioned as V

    for i in range(6):
        table.append(
            spark.createDataFrame(
                [(100 + i, f"r{i}", 0.0)], "k long, name string, v double"
            )
        )
    recs = table.history()
    # pick the instant of version 3's commit: snapshot_at must see exactly
    # versions 0..3 (20 base rows + appends 0..2 => 23... v3 = 3 appends)
    ts3 = recs[3]["ts"]
    v = table.version_at(ts3)
    assert v == 3
    assert table.snapshot_at(ts3).count() == 20 + 3
    # after the last commit: latest
    assert table.version_at("9999-12-31") == table.latest_version()
    # before the first: loud error
    with pytest.raises(ValueError):
        table.version_at("1970-01-01")
    # bounded reads: binary search, not a walk
    before = V.COMMIT_READS
    table.version_at(ts3)
    assert V.COMMIT_READS - before <= 5  # ceil(log2(7)) + first-commit probe


def test_recreate_at_same_root_invalidates_replay_memo(spark, tmp_path):
    """Round-7 advice (medium): the replay memo is keyed (root, version);
    deleting a table and re-CREATEing one at the same path within one
    process must serve the NEW table's files/schema, never the cached old
    live set. Also covers the stat-signature path: an in-place rewrite of
    a commit JSON (cross-process erase scrub) invalidates the memo."""
    import shutil

    import database_anonymiser_spark.sources.versioned as V

    root = tmp_path / "t"
    a = spark.createDataFrame([(1, "old")], "k long, name string")
    t = VersionedTable.create(spark, root, a, key_col="k")
    assert [r["name"] for r in t.snapshot().collect()] == ["old"]  # memoized

    shutil.rmtree(root)
    b = spark.createDataFrame([(1, "new"), (2, "new2")], "k long, name string")
    t2 = VersionedTable.create(spark, root, b, key_col="k")
    assert sorted(r["name"] for r in t2.snapshot().collect()) == ["new", "new2"]
    assert t2.row_count() == 2

    # cross-process scrub surrogate: rewrite commit 0 in place (bigger
    # payload => size/mtime change); the next replay must re-read it
    p = V._log_path(t2.root, 0)
    rec = json.loads(p.read_text())
    rec["adds"] = rec["adds"][:0]  # drop the live files
    p.write_text(json.dumps(rec))
    assert VersionedTable(spark, root).snapshot(0).count() == 0

    # scrub OLDER than the probed version (the stat of the probed commit
    # alone cannot see it): the scrub MARKER in the signature must
    # invalidate every cached state of the root
    t3 = VersionedTable.create(
        spark, tmp_path / "t3",
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, name string"),
        key_col="k",
    )
    t3.append(spark.createDataFrame([(3, "c")], "k long, name string"))
    assert t3.snapshot(1).count() == 3  # memoized at version 1
    p0 = V._log_path(t3.root, 0)  # rewrite version 0, NOT the probed 1
    rec0 = json.loads(p0.read_text())
    rec0["adds"] = rec0["adds"][:0]
    p0.write_text(json.dumps(rec0))
    # another process's scrub touches the marker; this process's cache
    # must notice without any in-process invalidation call
    import uuid as _uuid

    (t3.root / "_log" / "_scrubbed").write_text(_uuid.uuid4().hex)
    assert VersionedTable(spark, t3.root).snapshot(1).count() == 1


def test_version_at_legacy_and_skewed_timestamps(spark, table):
    """Round-7 advice (low): commits missing ``ts`` (legacy writers) or
    with non-monotone wall clocks (writer skew) must not silently
    bisect to a wrong version — both drop to a linear max-so-far-clamped
    scan (Delta's timestamp adjustment)."""
    import database_anonymiser_spark.sources.versioned as V

    for i in range(5):
        table.append(
            spark.createDataFrame(
                [(200 + i, f"s{i}", 0.0)], "k long, name string, v double"
            )
        )
    recs = table.history()
    ts = [r["ts"] for r in recs]

    # legacy: strip ts from version 2 — any probe hitting it falls back
    p2 = V._log_path(table.root, 2)
    rec2 = json.loads(p2.read_text())
    del rec2["ts"]
    p2.write_text(json.dumps(rec2))
    # version 2's effective (clamped) time is version 1's ts, so asking
    # for an instant in [ts1, ts3) resolves to 2 — identical to the
    # monotone answer; and the call must not crash on the missing field
    assert table.version_at(ts[3]) == 3
    assert table.version_at(ts[1]) == 2 if ts[1] < ts[3] else True
    assert table.version_at("9999-12-31") == table.latest_version()

    # skew: give version 4 a FUTURE clock (sorts after version 5's) —
    # clamping makes version 5's effective time equal version 4's, so a
    # query at exactly that instant resolves to 5 (newest with
    # effective-ts <= t), never 3 (what a naive bisection over the skewed
    # sequence can return)
    p4 = V._log_path(table.root, 4)
    rec4 = json.loads(p4.read_text())
    rec4["ts"] = "9000-01-01T00:00:00+00:00"
    p4.write_text(json.dumps(rec4))
    assert table.version_at("9000-01-01T00:00:00+00:00") == 5


def test_version_at_fully_legacy_log_says_no_timestamps(spark, table):
    """Round-8 advice (low): a log where NO commit carries a ``ts`` must
    raise its own error ('no commit timestamps'), not the misleading
    'precedes the first commit' — no later probe could resolve either."""
    import database_anonymiser_spark.sources.versioned as V

    table.append(
        spark.createDataFrame([(300, "x", 0.0)], "k long, name string, v double")
    )
    for v in table.versions():
        p = V._log_path(table.root, v)
        rec = json.loads(p.read_text())
        rec.pop("ts", None)
        p.write_text(json.dumps(rec))
    V._replay_cache_invalidate(table.root)
    with pytest.raises(ValueError, match="no commit timestamps"):
        table.version_at("9999-12-31")
    # a timestamped table probed too early still gets the precedes error
    t2 = VersionedTable.create(
        spark, table.root.parent / "t2",
        spark.createDataFrame([(1, "a")], "k long, name string"), key_col="k",
    )
    with pytest.raises(ValueError, match="precedes the first commit"):
        t2.version_at("1970-01-01")


def test_checkpoint_eff_head_sniff_is_anchored(spark, tmp_path):
    """Round-8 advice (low): a LEGACY checkpoint (no top-level eff_ts)
    whose head contains a same-named string — e.g. a CHECK constraint on
    a user column literally called eff_ts — must NOT false-match the
    bounded head read and feed a constraint expression into the
    TIMESTAMP AS OF bisect as a timestamp."""
    import database_anonymiser_spark.sources.versioned as V

    df = spark.createDataFrame(
        [(i, f"2024-01-{i+1:02d}") for i in range(3)], "k long, eff_ts string"
    )
    t = VersionedTable.create(spark, tmp_path / "t", df, key_col="k")
    t.add_constraint("eff_ts", "eff_ts IS NOT NULL")
    for i in range(3, 3 + V.CHECKPOINT_INTERVAL):
        t.append(
            spark.createDataFrame([(i, "2024-02-01")], "k long, eff_ts string")
        )
    cps = V._list_checkpoints(t.root)
    assert cps, "expected a checkpoint after CHECKPOINT_INTERVAL commits"
    # forge a LEGACY checkpoint: strip the top-level eff_ts field but keep
    # the constraint dict (whose '"eff_ts": "eff_ts IS NOT NULL"' sits in
    # the head) — the pre-r8 writer layout
    cp_path = V._checkpoint_path(t.root, cps[-1])
    cp = json.loads(cp_path.read_text())
    real_eff = cp.pop("eff_ts")
    cp_path.write_text(json.dumps(cp))
    sniffed = V._checkpoint_eff(t.root, cps[-1])
    assert sniffed is None, f"head sniff false-matched: {sniffed!r}"
    assert sniffed != "eff_ts IS NOT NULL"
    # and the bisect still resolves correctly via the linear fallback
    assert t.version_at("9999-12-31") == t.latest_version()
    # sanity: an intact checkpoint sniffs the real value from the head
    cp["eff_ts"] = real_eff
    cp_path.write_text(json.dumps({"version": cp["version"],
                                   "eff_ts": real_eff,
                                   **{k: v for k, v in cp.items()
                                      if k not in ("version", "eff_ts")}}))
    assert V._checkpoint_eff(t.root, cps[-1]) == real_eff


def test_merge_tolerates_marker_named_columns(spark, tmp_path):
    """Round-7 advice (low): a table legitimately owning columns named
    ``_t``/``_s`` must merge correctly — presence markers suffix away."""
    df = spark.createDataFrame(
        [(1, 10, 20, "a"), (2, 11, 21, "b")], "k long, _t long, _s long, name string"
    )
    t = VersionedTable.create(spark, tmp_path / "m", df, key_col="k")
    src = spark.createDataFrame(
        [(2, 99, 98, "B"), (3, 30, 40, "c")], "k long, _t long, _s long, name string"
    )
    t.merge(src, when_matched="update")
    got = {r["k"]: (r["_t"], r["_s"], r["name"]) for r in t.snapshot().collect()}
    assert got == {1: (10, 20, "a"), 2: (99, 98, "B"), 3: (30, 40, "c")}
    # and delete-merge (key-only source) with the marker columns present
    t.merge(spark.createDataFrame([(1,)], "k long"), when_matched="delete",
            insert_not_matched=False)
    assert sorted(r["k"] for r in t.snapshot().collect()) == [2, 3]


def test_merge_duplicate_target_keys_fail_loudly_when_validated(
    spark, tmp_path, monkeypatch
):
    """Round-7 advice (low): with the opt-in audit on, merging into a
    target whose key-uniqueness invariant was broken externally raises
    instead of emitting one updated row per duplicate."""
    import database_anonymiser_spark.sources.versioned as V

    df = spark.createDataFrame([(1, "a"), (2, "b")], "k long, name string")
    t = VersionedTable.create(spark, tmp_path / "d", df, key_col="k")
    # break the invariant behind the log's back: append a duplicate key
    # via the raw file path (an "external writer")
    dup = spark.createDataFrame([(1, "rogue")], "k long, name string")
    adds = _write_data_files(dup, t.root, "k")
    V._commit(t.root, 1, adds, [], "k", op="append")

    src = spark.createDataFrame([(1, "upd")], "k long, name string")
    monkeypatch.setattr(V, "VALIDATE_MERGE_TARGET_KEYS", True)
    with pytest.raises(ValueError, match="duplicate values"):
        t.merge(src, when_matched="update")
    monkeypatch.setattr(V, "VALIDATE_MERGE_TARGET_KEYS", False)
    t.merge(src, when_matched="update")  # documented default: no dedup
    assert [r["name"] for r in t.snapshot().where("k = 1").collect()].count("upd") >= 1


def test_read_where_pins_requested_version(spark, table):
    """Round-7 advice (low): ``read_where(version=)`` must read the
    pinned snapshot even after the table advances (the IVM extremum
    recompute's concurrent-writer guard)."""
    v0 = table.latest_version()
    table.update_where({"v": F.col("v") + 1000}, F.col("k") < 5, prune={"k": (0, 4)})
    pinned = table.read_where({"k": (0, 4)}, version=v0)
    assert max(r["v"] for r in pinned.collect()) < 1000
    live = table.read_where({"k": (0, 4)})
    assert min(r["v"] for r in live.collect()) >= 1000


def test_default_vacuum_is_checkpoint_bounded(spark, tmp_path):
    """Round-7 verdict #3: vacuum(None) must not walk the whole history.
    The 'ever referenced' witness rides in checkpoints (pruned to files
    still on disk), so the walk is one checkpoint + the tail commits —
    while still deleting true crash orphans and keeping every
    time-travelable file."""
    import database_anonymiser_spark.sources.versioned as V

    df = spark.createDataFrame([(1, "a")], "k long, name string")
    t = VersionedTable.create(spark, tmp_path / "t", df, key_col="k")
    for i in range(25):  # checkpoints at 10 and 20
        t.append(spark.createDataFrame([(100 + i, f"r{i}")], "k long, name string"))
    # plant a crash orphan: a parquet file referenced by no commit
    orphan = t.root / "data" / "orphan-deadbeef.parquet"
    spark.createDataFrame([(9, "x")], "k long, name string").toPandas().to_parquet(
        orphan
    )
    before = V.COMMIT_READS
    removed = t.vacuum(orphan_grace_s=0)
    reads = V.COMMIT_READS - before
    assert removed == ["data/orphan-deadbeef.parquet"]
    assert reads <= 8, f"vacuum(None) read {reads} commits (interval is 10)"
    # nothing time-travelable was touched
    assert t.snapshot(0).count() == 1
    assert t.snapshot().count() == 26


def test_legacy_empty_snapshot_reads_bounded_commits(spark, tmp_path):
    """Round-7 verdict #3 (second site): a LEGACY table (no schema in any
    commit or checkpoint) read while EMPTY must find its schema by a
    descending early-exit scan — O(distance to the last adds-bearing
    commit), not an O(versions) history walk."""
    import database_anonymiser_spark.sources.versioned as V

    df = spark.createDataFrame([(1, "a")], "k long, name string")
    t = VersionedTable.create(spark, tmp_path / "t", df, key_col="k")
    for i in range(12):  # past the version-10 checkpoint
        t.append(spark.createDataFrame([(100 + i, f"r{i}")], "k long, name string"))
    t.delete_where(F.lit(True))  # table now empty
    # simulate a pre-schema-logging writer: strip the recorded schema from
    # every commit and checkpoint (the rewrite changes each file's stat
    # signature, so the replay memo self-invalidates)
    for v in t.versions():
        p = V._log_path(t.root, v)
        rec = json.loads(p.read_text())
        rec.pop("schema", None)
        p.write_text(json.dumps(rec))
    for c in V._list_checkpoints(t.root):
        p = V._checkpoint_path(t.root, c)
        rec = json.loads(p.read_text())
        rec.pop("schema", None)
        p.write_text(json.dumps(rec))
    t2 = VersionedTable(spark, t.root)
    before = V.COMMIT_READS
    snap = t2.snapshot()
    reads = V.COMMIT_READS - before
    assert snap.count() == 0
    assert set(snap.columns) == {"k", "name"}
    assert reads <= 6, f"legacy empty read walked {reads} commits"


def test_ivm_refresh_skips_row_preserving_commits(spark, tmp_path):
    """Round 8: a refresh interval crossing a COMPACTION must not read the
    packed/pre-compact files (Delta's dataChange=false semantics) — the
    interval splits into data-changing segments and the compact version
    is skipped. A PURE-compaction interval advances the cursor with a
    metadata-only commit: zero data-file reads, zero view rewrite. View
    content stays exactly the from-scratch aggregate throughout."""
    import database_anonymiser_spark.sources.versioned as V
    from database_anonymiser_spark.operators.ivm import IncrementalAggView

    base_df = spark.createDataFrame(
        [(i, i % 3, float(i)) for i in range(40)], "k long, g long, v double"
    ).repartitionByRange(4, "k")
    base = VersionedTable.create(spark, tmp_path / "base", base_df, key_col="k")
    for i in range(8):  # many small files so the compact packs a lot
        base.append(
            spark.createDataFrame(
                [(100 + i, (100 + i) % 3, float(i))], "k long, g long, v double"
            ).coalesce(1)
        )
    view = IncrementalAggView.create(spark, tmp_path / "view", base, "g", "v")

    def check():
        want = {
            r["g"]: (r["n"], r["s"])
            for r in base.snapshot()
            .groupBy("g")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("v").cast("decimal(18,2)")).cast("double").alias("s"),
            )
            .collect()
        }
        got = {
            r["g"]: (r["n_rows"], r["sum_value"]) for r in view.snapshot().collect()
        }
        assert got == want

    # interval = merge, COMPACT, merge: the compact packs ~12 files into
    # one; the old endpoint diff would read all of them (added ∪ removed)
    base.merge(spark.createDataFrame([(5, 1, 500.0)], "k long, g long, v double"))
    v_m1 = base.latest_version()
    n_live_before_compact = len(base._live_entries())
    base.compact()
    assert base.commit_op(base.latest_version()) == "compact"
    base.merge(spark.createDataFrame([(6, 0, -600.0)], "k long, g long, v double"))
    v_m2 = base.latest_version()
    # changed files of the two data segments (what refresh MAY read)
    seg_files = 0
    for a, b in ((view.cursor(), v_m1), (v_m1 + 1, v_m2)):
        la = {e["path"] for e in base._live_entries(a)}
        lb = {e["path"] for e in base._live_entries(b)}
        seg_files += len(la ^ lb)
    n_view_live = len(view.table._live_entries())
    before = V.DATA_FILES_READ
    view.refresh(base)
    delta = V.DATA_FILES_READ - before
    assert delta <= seg_files + n_view_live, (
        f"refresh read {delta} files; segments={seg_files} view={n_view_live}"
    )
    # the compact churned ~all live files; the refresh must stay below it
    assert delta < n_live_before_compact
    check()

    # pure-compaction interval: append nothing, just recluster
    base.optimize_zorder(("k",), file_count=2)
    cur_view_version = view.table.latest_version()
    live_files = [e["path"] for e in view.table._live_entries()]
    before = V.DATA_FILES_READ
    view.refresh(base)
    assert V.DATA_FILES_READ - before == 0, "pure-compact refresh read data"
    assert view.cursor() == base.latest_version()
    assert view.table.latest_version() == cur_view_version + 1
    # metadata-only commit: the view's live files are carried, not rewritten
    assert [e["path"] for e in view.table._live_entries()] == live_files
    check()


def test_changes_skips_compaction_and_stays_additive(spark, tmp_path):
    """Round 8: the tailing change feed (changes) must not read compacted
    file churn — a compact between two merges contributes ZERO rows and
    ZERO data-file reads beyond the data segments, and the unioned
    per-segment feed applied additively equals the endpoint state."""
    import database_anonymiser_spark.sources.versioned as V

    df = spark.createDataFrame(
        [(i, float(i)) for i in range(20)], "k long, v double"
    ).repartitionByRange(4, "k")
    t = VersionedTable.create(spark, tmp_path / "t", df, key_col="k")
    for i in range(6):  # pile up small files for the compact to pack
        t.append(spark.createDataFrame([(100 + i, 1.0)], "k long, v double"))
    v0 = t.latest_version()
    t.merge(spark.createDataFrame([(5, 500.0)], "k long, v double"))
    n_live = len(t._live_entries())
    t.compact()
    t.merge(spark.createDataFrame([(6, -600.0), (200, 7.0)], "k long, v double"))

    before = V.DATA_FILES_READ
    feed = t.changes(v0).collect()
    reads = V.DATA_FILES_READ - before
    # witness the saving against the endpoint diff, which crosses the
    # compact and must read its churn (pre-compact files + the pack)
    before = V.DATA_FILES_READ
    t.diff(v0).collect()
    reads_endpoint = V.DATA_FILES_READ - before
    assert reads < reads_endpoint, (
        f"changes() read {reads}, endpoint diff {reads_endpoint} — "
        "segmentation saved nothing"
    )
    assert reads_endpoint > n_live  # the endpoint diff really pays the churn
    got = {(r["_change_type"], r["k"]) for r in feed}
    assert got == {("update", 5), ("update", 6), ("insert", 200)}
    # additive application reproduces the endpoint sum
    end = t.snapshot().agg(F.sum(F.col("v").cast("decimal(18,2)"))).first()[0]
    start = t.snapshot(v0).agg(F.sum(F.col("v").cast("decimal(18,2)"))).first()[0]
    both = t.changes(v0, images="both")
    plus = both.where(
        F.col("_change_type").isin("insert", "update_postimage")
    ).agg(F.sum(F.col("v").cast("decimal(18,2)"))).first()[0] or 0
    minus = both.where(
        F.col("_change_type").isin("delete", "update_preimage")
    ).agg(F.sum(F.col("v").cast("decimal(18,2)"))).first()[0] or 0
    assert start + plus - minus == end


def test_scd2_late_extract_raises_or_skips(spark, tmp_path):
    """Round 8: an extract whose business time is NOT after a changed
    key's current _valid_from would write a negative validity interval.
    Default raises loudly; on_late='skip' drops exactly the late images
    (latest-wins) and applies the rest, leaving history consistent."""
    from database_anonymiser_spark.operators.scd import (
        scd2_apply,
        scd2_as_of,
        scd2_init,
    )

    schema = "id long, tier string"
    dim = scd2_init(
        spark, tmp_path / "dim",
        spark.createDataFrame([(1, "basic"), (2, "gold")], schema),
        "id", "2024-03-01",
    )
    t = VersionedTable(spark, tmp_path / "dim")

    # late: ts BEFORE the current rows opened
    late = spark.createDataFrame([(1, "silver")], schema)
    with pytest.raises(ValueError, match="late-arriving"):
        scd2_apply(t, late, "id", ("tier",), "2024-02-01")

    # skip: the late image for id 1 is dropped; the new key 3 still opens
    mixed = spark.createDataFrame([(1, "silver"), (3, "basic")], schema)
    scd2_apply(t, mixed, "id", ("tier",), "2024-02-01", on_late="skip")
    cur = {r["id"]: r["tier"] for r in
           t.snapshot().where("_is_current").collect()}
    assert cur == {1: "basic", 2: "gold", 3: "basic"}
    # no negative intervals anywhere
    bad = t.snapshot().where(
        F.col("_valid_to").isNotNull()
        & (F.col("_valid_to") < F.col("_valid_from"))
    ).count()
    assert bad == 0
    # a normal later extract still applies on top
    scd2_apply(
        t, spark.createDataFrame([(1, "silver")], schema),
        "id", ("tier",), "2024-04-01",
    )
    assert {r["id"]: r["tier"] for r in scd2_as_of(t, "2024-03-15").collect()}[1] == "basic"
    assert {r["id"]: r["tier"] for r in
            t.snapshot().where("_is_current").collect()}[1] == "silver"


def test_ivm_randomized_ops_with_compaction(spark, tmp_path):
    """Round 8 stress: a seeded random interleaving of appends, merges
    (value AND group moves), banded deletes, compactions and Z-ORDER
    rewrites, with view refreshes at random points — after every refresh
    the min/max view must equal the from-scratch aggregate of a plain
    Python twin. Exercises multi-segment refresh intervals (data commits
    split around row-preserving ones) including per-segment extremum
    recomputes."""
    import random

    from database_anonymiser_spark.operators.ivm import IncrementalAggView

    rng = random.Random(8)
    schema = "k long, g long, v double"
    twin: dict[int, tuple[int, float]] = {
        k: (k % 4, float(k)) for k in range(30)
    }
    base = VersionedTable.create(
        spark, tmp_path / "base",
        spark.createDataFrame([(k, g, v) for k, (g, v) in twin.items()], schema)
        .repartitionByRange(3, "k"),
        key_col="k",
    )
    view = IncrementalAggView.create(
        spark, tmp_path / "view", base, "g", "v", minmax=True
    )
    next_key = 100

    def check():
        agg: dict[int, list] = {}
        for g, v in twin.values():
            a = agg.setdefault(g, [0, 0.0, float("inf"), float("-inf")])
            a[0] += 1
            a[1] += v
            a[2] = min(a[2], v)
            a[3] = max(a[3], v)
        got = {
            r["g"]: (
                r["n_rows"], round(r["sum_value"], 2),
                r["min_value"], r["max_value"],
            )
            for r in view.snapshot().collect()
        }
        want = {
            g: (a[0], round(a[1], 2), a[2], a[3]) for g, a in agg.items()
        }
        assert got == want

    for step in range(16):
        op = rng.choice(["append", "merge", "delete", "compact", "zorder"])
        if op == "append":
            rows = [
                (next_key + i, rng.randrange(4), float(rng.randrange(-500, 500)))
                for i in range(rng.randrange(1, 4))
            ]
            next_key += 10
            base.append(spark.createDataFrame(rows, schema))
            for k, g, v in rows:
                twin[k] = (g, v)
        elif op == "merge" and twin:
            ks = rng.sample(sorted(twin), min(len(twin), rng.randrange(1, 4)))
            rows = [
                (k, rng.randrange(4), float(rng.randrange(-500, 500))) for k in ks
            ]
            base.merge(spark.createDataFrame(rows, schema))
            for k, g, v in rows:
                twin[k] = (g, v)
        elif op == "delete" and twin:
            lo = rng.randrange(0, next_key)
            hi = lo + rng.randrange(1, 30)
            base.delete_where(
                F.col("k").between(lo, hi), prune={"k": (lo, hi)}
            )
            for k in [k for k in twin if lo <= k <= hi]:
                del twin[k]
        elif op == "compact":
            base.compact()
        elif op == "zorder":
            base.optimize_zorder(("k",), file_count=2)
        if rng.random() < 0.4:
            view.refresh(base)
            check()
    view.refresh(base)
    check()


def test_ann_index_filtered_search(spark, sf_dir, tmp_path):
    """Round 8: metadata-filtered vector search on the stored index —
    rebuild with meta_cols clusters files by the filter column and
    records its per-file stats; topk(where=) must (1) file-prune to the
    label band (DATA_FILES_READ strictly below the full live set),
    (2) return exactly the compressed-domain top-k of the label subset
    (equal to running the int8 scorer over a pre-filtered index), and
    (3) with refine, match the EXACT brute-force top-k over the subset.
    Unknown filter columns fail loudly."""
    import database_anonymiser_spark.sources.versioned as V
    from database_anonymiser_spark.operators.index_store import VersionedAnnIndex
    from database_anonymiser_spark.operators.similarity import (
        brute_force_topk,
        ivf_int8_topk,
    )
    from database_anonymiser_spark.suite.base import load

    emb = load(spark, sf_dir, "embeddings")
    idx = VersionedAnnIndex(spark, tmp_path / "idx")
    idx.rebuild(emb, "vec_id", "embedding", n_files=8, meta_cols=("label",))
    n_live = len(idx.table._live_entries())
    assert n_live > 2  # pruning needs something to prune

    q = 0
    label = emb.where(F.col("vec_id") != q).select("label").first()[0]

    before = V.DATA_FILES_READ
    got = idx.query(
        emb, "vec_id", "embedding", q, k=5, where={"label": label},
        refine_k=None,
    ).collect()
    reads = V.DATA_FILES_READ - before
    assert reads < n_live, f"filtered topk read {reads}/{n_live} files"

    # (2) equal to the int8 scorer over a pre-filtered full index
    cents = idx.centroids()
    full = ivf_int8_topk(
        idx.table.snapshot().where(F.col("label") == label),
        emb, "vec_id", "embedding", q, cents, k=5, n_probe=len(cents),
    ).collect()
    assert [(r["vec_id"], r["cosine"]) for r in got] == [
        (r["vec_id"], r["cosine"]) for r in full
    ]
    assert len(got) == 5

    # (3) with the exact re-rank: identical to brute force over the subset
    refined = idx.query(
        emb, "vec_id", "embedding", q, k=5, where={"label": label},
        refine_k=50,
    ).collect()
    exact = brute_force_topk(
        emb.where((F.col("label") == label) | (F.col("vec_id") == q)),
        "vec_id", "embedding", q, k=5,
    ).collect()
    assert [(r["vec_id"], r["cosine"]) for r in refined] == [
        (r["vec_id"], r["cosine"]) for r in exact
    ]

    with pytest.raises(ValueError, match="meta_cols"):
        idx.query(emb, "vec_id", "embedding", q, k=5, where={"source": "x"})


def test_version_at_clamped_scan_property(spark, tmp_path):
    """Property (round 8): for ANY assignment of commit timestamps —
    including missing and wildly skewed ones — version_at agrees with a
    direct max-so-far-clamped reference scan, for probes at every
    recorded timestamp and between them."""
    import database_anonymiser_spark.sources.versioned as V

    df = spark.createDataFrame([(1, "a")], "k long, name string")
    t = VersionedTable.create(spark, tmp_path / "t", df, key_col="k")
    for i in range(7):
        t.append(spark.createDataFrame([(10 + i, "x")], "k long, name string"))

    # deterministic adversarial assignment: skew, duplicates, a missing ts
    assigned = {
        0: "2024-01-01", 1: "2024-03-01", 2: None, 3: "2024-02-01",
        4: "2024-02-01", 5: "2024-05-01", 6: "2024-04-01", 7: "2024-04-15",
    }
    for v, ts in assigned.items():
        p = V._log_path(t.root, v)
        rec = json.loads(p.read_text())
        rec.pop("ts", None)
        if ts is not None:
            rec["ts"] = ts
        p.write_text(json.dumps(rec))

    def reference(query_ts):
        best, eff = None, ""
        for v in t.versions():
            eff = max(eff, assigned[v] or "")
            if eff and eff <= query_ts:
                best = v
        if best is None:
            raise ValueError("before first commit")
        return best

    probes = sorted({ts for ts in assigned.values() if ts}) + [
        "2024-01-15", "2024-02-14", "2024-03-15", "2024-04-10", "2024-06-01",
    ]
    for q in probes:
        assert t.version_at(q) == reference(q), q
    with pytest.raises(ValueError):
        t.version_at("2023-12-31")

    # checkpointed path: 24 versions (checkpoints at 10 and 20 carry
    # eff_ts), deterministic pseudo-random skew incl. gaps — bisect over
    # checkpoints + window scan must equal the full clamped reference
    import random as _random

    rng = _random.Random(11)
    t2 = VersionedTable.create(
        spark, tmp_path / "t2",
        spark.createDataFrame([(1, "a")], "k long, name string"), key_col="k",
    )
    for i in range(23):
        t2.append(spark.createDataFrame([(10 + i, "x")], "k long, name string"))
    assigned2 = {}
    for v in t2.versions():
        if rng.random() < 0.15:
            assigned2[v] = None
        else:
            assigned2[v] = f"2024-{rng.randrange(1, 13):02d}-{rng.randrange(1, 28):02d}"
        p2 = V._log_path(t2.root, v)
        rec = json.loads(p2.read_text())
        rec.pop("ts", None)
        if assigned2[v] is not None:
            rec["ts"] = assigned2[v]
        p2.write_text(json.dumps(rec))
    # checkpoints were written with the REAL (monotone wall-clock) ts;
    # rewrite their eff_ts to match the doctored commits so the recorded
    # axis is consistent with the log (a real table's checkpoint derives
    # from the same commits it summarizes)
    for c in V._list_checkpoints(t2.root):
        cp_path = V._checkpoint_path(t2.root, c)
        cp = json.loads(cp_path.read_text())
        eff = ""
        for v in t2.versions():
            if v > c:
                break
            eff = max(eff, assigned2[v] or "")
        cp["eff_ts"] = eff
        cp_path.write_text(json.dumps(cp))

    def reference2(query_ts):
        best, eff = None, ""
        for v in t2.versions():
            eff = max(eff, assigned2[v] or "")
            if eff and eff <= query_ts:
                best = v
        if best is None:
            raise ValueError("before first commit")
        return best

    probes2 = sorted({ts for ts in assigned2.values() if ts}) + [
        "2024-03-15", "2024-06-01", "2024-09-09", "2025-01-01",
    ]
    for q in probes2:
        try:
            want = reference2(q)
        except ValueError:
            with pytest.raises(ValueError):
                t2.version_at(q)
            continue
        before = V.COMMIT_READS
        assert t2.version_at(q) == want, q
        # bounded: checkpoint bisect (<= #cps) + one interval window
        assert V.COMMIT_READS - before <= 2 + 12, q


def test_files_matching_any_point_lookup(spark, tmp_path):
    """files_matching_any keeps exactly the files whose [min, max] stats
    contain at least one probed value, keeps stats-less files, and
    read_matching_any returns exactly the matching rows (empty frame
    with the logged schema when nothing survives — zero file reads)."""
    import database_anonymiser_spark.sources.versioned as V

    df = spark.createDataFrame(
        [(i, i * 10) for i in range(1, 41)], "k long, x long"
    ).repartitionByRange(4, "k")
    t = VersionedTable.create(spark, tmp_path / "t", df, key_col="k", stats_cols=("x",))
    entries = t._live_entries()
    assert len(entries) == 4 and all(e["stats"]["x"][0] is not None for e in entries)

    # values inside two distinct files' ranges -> exactly those two files
    hits = t.files_matching_any("x", [10, 400])
    assert len(hits) == 2
    got = {r["k"] for r in t.read_matching_any("x", [10, 400]).collect()}
    assert got == {1, 40}

    # values between files' ranges match nothing; frame is empty with
    # the table schema and reads no data files
    f0 = V.DATA_FILES_READ
    miss = t.read_matching_any("x", [5, 105, 405])
    assert miss.columns == ["k", "x"] and miss.count() == 0
    assert V.DATA_FILES_READ == f0

    # key-column probes use the commit-level key bounds
    assert len(t.files_matching_any("k", [1])) == 1
    # a column with no recorded stats keeps every file (must-scan)
    assert len(t.files_matching_any("nostats", [123])) == 4


def test_merge_point_skipping_touches_only_point_files(spark, tmp_path):
    """merge(skip_by='points'): a scattered two-key source whose [lo, hi]
    RANGE spans every file touches only the files actually containing a
    source key — range skipping would rewrite all of them. Result state
    is identical either way."""
    import database_anonymiser_spark.sources.versioned as V

    def build(root):
        df = spark.createDataFrame(
            [(i, f"v{i}") for i in range(1, 81)], "k long, name string"
        ).repartitionByRange(8, "k")
        return VersionedTable.create(spark, root, df, key_col="k")

    src_rows = [(1, "LO"), (80, "HI"), (200, "NEW")]  # spans the keyspace

    t_pts = build(tmp_path / "pts")
    f0 = V.DATA_FILES_READ
    t_pts.merge(
        spark.createDataFrame(src_rows, "k long, name string"), skip_by="points"
    )
    pts_reads = V.DATA_FILES_READ - f0

    t_rng = build(tmp_path / "rng")
    f0 = V.DATA_FILES_READ
    t_rng.merge(spark.createDataFrame(src_rows, "k long, name string"))
    rng_reads = V.DATA_FILES_READ - f0

    assert pts_reads == 2  # only the files holding keys 1 and 80
    assert rng_reads == 8  # the range [1, 200] intersects every file
    snap_p = sorted(tuple(r) for r in t_pts.snapshot().collect())
    snap_r = sorted(tuple(r) for r in t_rng.snapshot().collect())
    assert snap_p == snap_r and (200, "NEW") in snap_p

    # unknown mode rejected
    with pytest.raises(ValueError, match="skip_by"):
        t_pts.merge(
            spark.createDataFrame([(1, "x")], "k long, name string"), skip_by="bogus"
        )

    # cap fallback: monkey the cap down -> falls back to range, state right
    old_cap = V.POINT_SKIP_CAP
    V.POINT_SKIP_CAP = 1
    try:
        span_files = len(t_pts.files_matching({"k": (2, 79)}))
        f0 = V.DATA_FILES_READ
        t_pts.merge(
            spark.createDataFrame([(2, "X2"), (79, "X79")], "k long, name string"),
            skip_by="points",
        )
        # over the cap -> range fallback: every file intersecting the
        # span is read, not just the two holding the keys
        assert V.DATA_FILES_READ - f0 == span_files and span_files > 2
    finally:
        V.POINT_SKIP_CAP = old_cap
    assert dict((r["k"], r["name"]) for r in t_pts.snapshot().collect())[2] == "X2"



def test_ivm_approx_distinct_kmv(spark, tmp_path):
    """APPROX DISTINCT view maintenance (round 8): the per-group KMV
    sketch is PATH-INDEPENDENT — after any append/merge/delete/update/
    compact sequence the maintained sketch (and the served estimate)
    equals the from-scratch sketch of the base snapshot, bit for bit.
    Deleting a value whose hash is ABOVE the group's k-th minimum renews
    nothing (no recompute read beyond the change feed); deleting the
    group's SMALLEST hash forces the bounded group recompute. Estimator
    parity: the served approx_distinct_est matches
    sketch.py::kmv_distinct on the same rows exactly."""
    import database_anonymiser_spark.sources.versioned as V
    from database_anonymiser_spark.operators.ivm import IncrementalAggView
    from database_anonymiser_spark.operators.sketch import kmv_distinct

    K = 8
    # 4 groups; g=0 has 30 distinct values (> K: estimator branch), the
    # others stay below K (exact branch); duplicates everywhere
    rows = [(i, i % 4, float((i // 4) % (30 if i % 4 == 0 else 5))) for i in range(240)]
    base = VersionedTable.create(
        spark,
        tmp_path / "base",
        spark.createDataFrame(rows, "k long, g long, v double"),
        key_col="k",
    )
    base.optimize_zorder(("g",), file_count=8)
    view = IncrementalAggView.create(
        spark, tmp_path / "view", base, "g", "v",
        approx_distinct=True, kmv_k=K,
    )

    def sketch_of(df):
        hv = F.conv(
            F.substring(F.md5(F.col("v").cast("string")), 1, 15), 16, 10
        ).cast("long")
        return {
            r["g"]: tuple(r["s"])
            for r in df.groupBy("g")
            .agg(F.slice(F.array_sort(F.collect_set(hv)), 1, K).alias("s"))
            .collect()
        }

    def check():
        # internal sketch state == from-scratch sketch, exactly
        got = {
            r["g"]: tuple(r["_kmv"])
            for r in view.table.snapshot().select("g", "_kmv").collect()
        }
        assert got == sketch_of(base.snapshot())
        # served estimate == the batch KMV operator on the same rows
        want_est = {
            r["g"]: r["kmv_distinct_est"]
            for r in kmv_distinct(base.snapshot(), "v", ("g",), k=K).collect()
        }
        got_est = {
            r["g"]: r["approx_distinct_est"] for r in view.snapshot().collect()
        }
        assert got_est == want_est

    check()

    # inserts (incl. brand-new group 9): closed-form monoid merge
    base.append(
        spark.createDataFrame(
            [(1000, 0, 77.0), (1001, 9, 1.0), (1002, 9, 2.0)],
            "k long, g long, v double",
        )
    )
    view.refresh(base)
    check()

    # update moves rows between groups (pre-image removal + post insert)
    base.update_where({"g": F.lit(1)}, F.col("k").between(8, 16))
    view.refresh(base)
    check()

    # delete a value whose hash is ABOVE g=0's k-th min: sketch provably
    # unaffected -> refresh reads ONLY the change feed (+ the view's own
    # files), no recompute read of the group's base rows
    hv = F.conv(
        F.substring(F.md5(F.col("v").cast("string")), 1, 15), 16, 10
    ).cast("long")
    g0 = (
        base.snapshot().where(F.col("g") == 0)
        .select("k", "v", hv.alias("h")).collect()
    )
    thresh = sorted({r["h"] for r in g0})[K - 1]
    safe = next(r for r in g0 if r["h"] > thresh)
    # delete ALL copies of that value so the removal really hits the base
    doomed = [r["k"] for r in g0 if r["v"] == safe["v"]]
    vpre = base.latest_version()
    base.delete_where(F.col("k").isin(doomed) & (F.col("g") == 0))
    import json as _json

    rec = _json.loads(V._log_path(base.root, base.latest_version()).read_text())
    feed_files = len(rec["adds"]) + len(rec["removes"])
    view_files = len(view.table._live_entries())
    f0 = V.DATA_FILES_READ
    view.refresh(base)
    assert V.DATA_FILES_READ - f0 <= feed_files + view_files
    check()

    # delete g=0's SMALLEST hash: in-sketch loss -> bounded recompute
    g0 = (
        base.snapshot().where(F.col("g") == 0)
        .select("k", "v", hv.alias("h")).collect()
    )
    lowest = min(g0, key=lambda r: r["h"])
    base.delete_where(
        F.col("k").isin([r["k"] for r in g0 if r["v"] == lowest["v"]])
        & (F.col("g") == 0)
    )
    view.refresh(base)
    check()

    # row-preserving compaction advances metadata-only; combined
    # minmax+adist view maintains both through the same feed
    base.compact(target_file_bytes=64 * 1024 * 1024)
    view.refresh(base)
    check()

    both = IncrementalAggView.create(
        spark, tmp_path / "both", base, "g", "v",
        minmax=True, approx_distinct=True, kmv_k=K,
    )
    base.delete_where(F.col("g") == 9)  # group vanishes from both views
    view.refresh(base)
    both.refresh(base)
    check()
    assert not [r for r in both.snapshot().collect() if r["g"] == 9]
    mm = {r["g"]: (r["min_value"], r["max_value"]) for r in both.snapshot().collect()}
    want_mm = {
        r["g"]: (r["mn"], r["mx"])
        for r in base.snapshot().groupBy("g").agg(
            F.min(F.col("v").cast("decimal(18,2)")).cast("double").alias("mn"),
            F.max(F.col("v").cast("decimal(18,2)")).cast("double").alias("mx"),
        ).collect()
    }
    assert mm == want_mm


def test_checkpoint_eff_ts_heals_from_legacy(spark, tmp_path):
    """A pre-eff_ts checkpoint must not poison the recorded clamp axis
    (review finding, round 8): when the skewed-HIGH commit lives in the
    checkpointed PREFIX, deriving eff_ts from the tail alone understates
    the clamp and every later checkpoint inherits the lie. The heal path
    recovers eff_ts with one full-log scan at the next checkpoint write,
    and version_at keeps returning the clamp-correct answer throughout.
    Also pins the bounded head read (_checkpoint_eff) against the full
    parse."""
    import database_anonymiser_spark.sources.versioned as V

    t = VersionedTable.create(
        spark, tmp_path / "t",
        spark.createDataFrame([(1, "a")], "k long, name string"), key_col="k",
    )
    for i in range(13):
        t.append(spark.createDataFrame([(10 + i, "x")], "k long, name string"))
    assert t.latest_version() == 13 and V._list_checkpoints(t.root) == [10]

    # doctor: v3 carries a wildly SKEWED-HIGH wall clock; strip eff_ts
    # from the existing checkpoint to simulate a pre-r8 table
    p3 = V._log_path(t.root, 3)
    rec = json.loads(p3.read_text())
    rec["ts"] = "2030-01-01"
    p3.write_text(json.dumps(rec))
    cp_path = V._checkpoint_path(t.root, 10)
    cp = json.loads(cp_path.read_text())
    cp.pop("eff_ts", None)
    cp_path.write_text(json.dumps(cp))

    # advance past the next checkpoint boundary: its writer must HEAL
    # eff_ts from the full log (prefix included), not the tail
    for i in range(7):
        t.append(spark.createDataFrame([(50 + i, "y")], "k long, name string"))
    assert 20 in V._list_checkpoints(t.root)
    healed = V._checkpoint_eff(t.root, 20)
    assert healed == "2030-01-01"  # tail-only derivation would lose this
    assert json.loads(V._checkpoint_path(t.root, 20).read_text())["eff_ts"] == healed

    # clamp-correct answers across the poisoned-prefix boundary: every
    # version >= 3 has effective time 2030, so a 2029 probe resolves to
    # v2 and a 2031 probe to the latest version
    assert t.version_at("2029-06-01") == 2
    assert t.version_at("2031-01-01") == t.latest_version()


def test_shallow_clone_is_metadata_only_and_isolated(spark, tmp_path):
    """Delta-style SHALLOW CLONE: forking a table is a pure metadata
    operation (zero data files read or copied); source and clone then
    diverge copy-on-write without touching each other's files."""
    import database_anonymiser_spark.sources.versioned as V

    df = spark.createDataFrame(
        [(i, f"n{i}", i * 1.0) for i in range(40)], "k long, name string, v double"
    )
    src = VersionedTable.create(spark, tmp_path / "src", df, key_col="k")
    src.append(
        spark.createDataFrame([(100, "x", 1.0)], "k long, name string, v double")
    )

    f0, c0 = V.DATA_FILES_READ, V.COMMIT_READS
    clone = VersionedTable.clone(spark, tmp_path / "src", tmp_path / "cl")
    assert V.DATA_FILES_READ == f0  # metadata-only: no parquet read
    assert V.COMMIT_READS - c0 <= 4
    # no data was copied under the clone's root
    assert not list((tmp_path / "cl").rglob("*.parquet"))
    assert clone.foreign_files() and all(
        p.startswith("/") for p in clone.foreign_files()
    )

    # identical content at the cloned version; carried key_col/schema
    assert _rows(clone.snapshot()) == _rows(src.snapshot())
    assert clone.key_col() == "k"
    assert clone.snapshot().schema == src.snapshot().schema

    # divergence: writes on either side are invisible to the other
    clone.update_where({"v": F.lit(-1.0)}, F.col("k") == 3)
    src.delete_where(F.col("k") == 7)
    assert {r["v"] for r in clone.snapshot().where("k = 3").collect()} == {-1.0}
    assert {r["v"] for r in src.snapshot().where("k = 3").collect()} == {3.0}
    assert clone.snapshot().where("k = 7").count() == 1
    assert src.snapshot().where("k = 7").count() == 0

    # clone's vacuum never reclaims the source's files
    removed = clone.vacuum(retain_versions=1)
    assert all(not p.startswith("/") for p in removed)
    assert _rows(src.snapshot(0).where("k = 3")) != []


def test_clone_pinned_version_constraints_and_stats(spark, tmp_path):
    """Clone at a PINNED version; CHECK constraints, declared stats cols,
    and merge file-skipping all carry into the clone."""
    df = spark.createDataFrame(
        [(i, i % 5, i * 1.0) for i in range(50)], "k long, g long, v double"
    )
    src = VersionedTable.create(
        spark, tmp_path / "src", df, key_col="k", stats_cols=("g",)
    )
    src.add_constraint("v_nonneg", "v >= 0")
    v_pin = src.latest_version()
    src.append(spark.createDataFrame([(999, 0, 9.0)], "k long, g long, v double"))

    clone = VersionedTable.clone(spark, tmp_path / "src", tmp_path / "cl", version=v_pin)
    assert clone.snapshot().count() == 50  # pre-append state
    assert clone.constraints() == {"v_nonneg": "v >= 0"}
    assert tuple(clone.stats_cols()) == ("g",)
    with pytest.raises(Exception, match="v_nonneg"):
        clone.append(spark.createDataFrame([(1000, 0, -5.0)], "k long, g long, v double"))
    # merge on the clone works and keeps the table consistent
    clone.merge(
        spark.createDataFrame([(0, 0, 123.0)], "k long, g long, v double"),
        when_matched="update",
    )
    assert {r["v"] for r in clone.snapshot().where("k = 0").collect()} == {123.0}
    # clone of a clone composes
    c2 = VersionedTable.clone(spark, tmp_path / "cl", tmp_path / "cl2")
    assert _rows(c2.snapshot()) == _rows(clone.snapshot())


def test_deep_clone_owns_its_files(spark, tmp_path):
    df = spark.createDataFrame([(i, i * 1.0) for i in range(10)], "k long, v double")
    src = VersionedTable.create(spark, tmp_path / "src", df, key_col="k")
    clone = VersionedTable.clone(spark, tmp_path / "src", tmp_path / "cl", deep=True)
    assert clone.foreign_files() == []
    assert list((tmp_path / "cl").rglob("*.parquet"))
    assert _rows(clone.snapshot()) == _rows(src.snapshot())
    # fully independent lifecycle: vacuuming the source breaks nothing
    src.delete_where(F.col("k") < 100)
    src.vacuum(retain_versions=1)
    assert clone.snapshot().count() == 10


def test_erase_refuses_on_foreign_references_then_allows_after_localize(
    spark, tmp_path
):
    """erase() must not claim a verified hard delete while pre-image
    files live under the SOURCE root; after compact localizes every
    foreign file the clone erases normally."""
    df = spark.createDataFrame(
        [(i, f"n{i}") for i in range(30)], "k long, name string"
    )
    VersionedTable.create(spark, tmp_path / "src", df, key_col="k")
    clone = VersionedTable.clone(spark, tmp_path / "src", tmp_path / "cl")
    with pytest.raises(RuntimeError, match="shallow clone"):
        clone.erase(F.col("k") == 3)
    # localize: rewrite every live file under the clone's own root
    clone.compact(small_file_bytes=10**12)
    assert clone.foreign_files() == []
    out = clone.erase(F.col("k") == 3)
    assert out["rows_deleted"] == 1
    # the source is untouched throughout
    assert VersionedTable(spark, tmp_path / "src").snapshot().count() == 30


def test_clone_from_relative_source_root(spark, tmp_path):
    """Foreign entries are absolutized at clone time — a source opened via
    a RELATIVE path must not re-root under the clone at read time (caught
    by the verify drive, round 8). The relative path is taken from the
    process cwd (which the JVM shares); os.chdir would desync the two."""
    import os

    rel_src = os.path.relpath(tmp_path / "rel_src", os.getcwd())
    rel_cl = os.path.relpath(tmp_path / "rel_cl", os.getcwd())
    df = spark.createDataFrame([(i, i * 2) for i in range(10)], "k long, v long")
    VersionedTable.create(spark, rel_src, df, key_col="k")
    clone = VersionedTable.clone(spark, rel_src, rel_cl)
    assert clone.snapshot().count() == 10
    assert all(p.startswith("/") for p in clone.foreign_files())


def test_convert_in_place_adopts_parquet_dir(spark, tmp_path):
    """Round-8 verdict #7: CONVERT-in-place — an existing plain-parquet
    directory becomes version 0 BY REFERENCE (footer harvest, zero
    rewrite, zero data reads), then time-travels/merges/point-skips like
    a born-versioned table, and NEVER deletes the pre-conversion files
    its log did not write."""
    import database_anonymiser_spark.sources.versioned as V

    # a "pre-existing" dataset written by plain Spark, multiple files
    root = tmp_path / "legacy"
    df = spark.createDataFrame(
        [(i, f"n{i}", i * 1.0) for i in range(40)], "k long, name string, v double"
    )
    df.repartition(3, F.col("k")).write.parquet(str(root))
    pre_files = sorted(
        str(p.relative_to(root)) for p in root.rglob("*.parquet")
    )
    assert len(pre_files) >= 2

    f0 = V.DATA_FILES_READ
    t = VersionedTable.convert(spark, root, key_col="k")
    assert V.DATA_FILES_READ == f0  # footer-only adoption: no data read
    assert t.latest_version() == 0
    assert t.key_col() == "k"
    assert t.row_count() == 40  # from harvested footer counts
    assert _rows(t.snapshot()) == _rows(df)
    assert sorted(t.foreign_files()) == pre_files  # adopted, not owned

    # merge (update + insert) works; new files land under data/
    src = spark.createDataFrame(
        [(1, "UPD", 9.9), (100, "new", 0.5)], "k long, name string, v double"
    )
    t.merge(src, when_matched="update")
    got = {r["k"]: r["name"] for r in t.snapshot().collect()}
    assert got[1] == "UPD" and got[100] == "new" and len(got) == 41
    # time travel back to the conversion snapshot still reads
    assert _rows(t.snapshot(0)) == _rows(df)

    # vacuum in BOTH modes never touches the adopted files
    t.vacuum(None)
    t.vacuum(retain_versions=1)
    assert sorted(
        str(p.relative_to(root))
        for p in root.rglob("*.parquet")
        if "data/" not in str(p.relative_to(root))
    ) == pre_files
    # ...even though retention-vacuum dereferenced some of them is NOT
    # yet true (merge rewrote only touched files); force full churn:
    t.compact()
    t.vacuum(retain_versions=1)
    assert sorted(
        str(p.relative_to(root))
        for p in root.rglob("*.parquet")
        if not str(p.relative_to(root)).startswith("data/")
    ) == pre_files  # fully dereferenced, still on disk
    assert t.foreign_files() == []  # live set is now log-owned
    assert t.snapshot().count() == 41

    # erase: refuses while adopted files are live, allowed after churn
    root2 = tmp_path / "legacy2"
    df.write.parquet(str(root2))
    t2 = VersionedTable.convert(spark, root2, key_col="k")
    with pytest.raises(RuntimeError, match="adopted|foreign"):
        t2.erase(F.col("k") == 3)
    t2.compact()
    out = t2.erase(F.col("k") == 3)
    assert out["rows_deleted"] == 1

    # refusals: double-convert, already-versioned, empty dir
    with pytest.raises(FileExistsError):
        VersionedTable.convert(spark, root, key_col="k")
    (tmp_path / "empty").mkdir()
    with pytest.raises(FileNotFoundError):
        VersionedTable.convert(spark, tmp_path / "empty", key_col="k")


def test_convert_point_skipping_and_stats_harvest(spark, tmp_path):
    """Converted tables file-skip immediately: the footer harvest records
    key (and declared stats-column) bounds, so point/range reads prune
    adopted files without any rewrite."""
    import database_anonymiser_spark.sources.versioned as V

    root = tmp_path / "skip"
    df = spark.createDataFrame(
        [(i, i % 7, float(i)) for i in range(1000)], "k long, lab int, v double"
    )
    # key-disjoint files (the layout a partitioned legacy export has)
    df.repartitionByRange(5, F.col("k")).sortWithinPartitions("k").write.parquet(
        str(root)
    )
    t = VersionedTable.convert(spark, root, key_col="k", stats_cols=("lab",))
    assert t.stats_cols() == ("lab",)
    n_live = len(t._live_entries())
    f0 = V.DATA_FILES_READ
    rows = t.read_where({"k": (10, 20)}).collect()
    assert sorted(r["k"] for r in rows) == list(range(10, 21))
    assert V.DATA_FILES_READ - f0 < n_live  # pruned: not a full scan
    # range-prune on the harvested stats column too
    entries = t.files_matching({"k": (0, 100)})
    assert 0 < len(entries) < n_live


def test_append_auto_retries_occ_conflict(spark, table, monkeypatch):
    """Round 9: a blind append losing the OCC race rebases automatically —
    same already-written files re-committed at the new head, no rewrite —
    UNLESS the winner changed the logged schema (then the conflict
    surfaces: the files were validated against the old schema)."""
    import database_anonymiser_spark.sources.versioned as V

    real_commit = V._commit
    state = {"rival": 0}

    def racing_commit(root, version, adds, removes, key_col, op, **kw):
        if op == "append" and state["rival"] > 0:
            state["rival"] -= 1
            rival = V._write_data_files(
                spark.createDataFrame(
                    [(900 + state["rival"], "rival", 0.0)],
                    "k long, name string, v double",
                ),
                root, "k",
            )
            real_commit(root, version, rival, [], "k", op="append")
        return real_commit(root, version, adds, removes, key_col, op, **kw)

    monkeypatch.setattr(V, "_commit", racing_commit)
    base = table.latest_version()
    state["rival"] = 2  # lose the race twice, win on the third attempt
    f0 = V.DATA_FILES_READ
    v = table.append(
        spark.createDataFrame([(300, "mine", 1.0)], "k long, name string, v double")
    )
    assert v == base + 3  # two rivals landed first
    assert V.DATA_FILES_READ == f0  # rebase never re-read or rewrote data
    ks = {r["k"] for r in table.snapshot().select("k").collect()}
    assert {300, 900, 901} <= ks
    # no file double-referenced across the interleaved commits
    all_adds = [a["path"] for rec in table.history() for a in rec["adds"]]
    assert len(all_adds) == len(set(all_adds))

    # schema-changing winner: no blind rebase
    def schema_racing_commit(root, version, adds, removes, key_col, op, **kw):
        if op == "append" and state["rival"] > 0:
            state["rival"] -= 1
            real_commit(
                root, version, [], [], "k", op="add_column_marker",
                schema={"type": "struct", "fields": []},
            )
        return real_commit(root, version, adds, removes, key_col, op, **kw)

    monkeypatch.setattr(V, "_commit", schema_racing_commit)
    state["rival"] = 1
    with pytest.raises(V.VersionConflict):
        table.append(
            spark.createDataFrame(
                [(400, "x", 1.0)], "k long, name string, v double"
            )
        )


def test_optimize_zorder_where_scoped_rewrite(spark, tmp_path):
    """Round 9 (Delta OPTIMIZE ... WHERE): a range-scoped Z-ORDER rewrites
    ONLY the files whose stats overlap the predicate — whole files, never
    row-filtered — leaving every other live file untouched, and a
    no-overlap predicate is a version-preserving no-op."""
    df1 = spark.createDataFrame(
        [(i, i % 5, float(i)) for i in range(100)], "k long, lab int, v double"
    )
    df2 = spark.createDataFrame(
        [(i, i % 5, float(i)) for i in range(1000, 1100)], "k long, lab int, v double"
    )
    t = VersionedTable.create(spark, tmp_path / "z", df1, key_col="k")
    t.append(df2)
    before = {e["path"] for e in t._live_entries()}
    low_files = {e["path"] for e in t.files_matching({"k": (0, 99)})}
    high_files = before - low_files
    assert low_files and high_files  # disjoint key ranges => both sets real

    v = t.optimize_zorder(("k", "lab"), file_count=2, where={"k": (0, 99)})
    after = {e["path"] for e in t._live_entries()}
    assert high_files <= after           # untouched files carried
    assert not (low_files & after)       # overlapping files rewritten
    assert t.snapshot().count() == 200   # row set unchanged
    assert sorted(r["k"] for r in t.snapshot().collect()) == (
        list(range(100)) + list(range(1000, 1100))
    )
    # the rewritten band carries z-stats for BOTH dimensions
    new_files = after - high_files
    ent = {e["path"]: e for e in t._live_entries()}
    assert all((ent[p].get("stats") or {}).get("lab") for p in new_files)
    # no-overlap scope: no-op, same version
    assert t.optimize_zorder(("k", "lab"), where={"k": (5000, 6000)}) == v


def test_vacuum_dry_run_lists_without_deleting(spark, tmp_path):
    """Round 9 (Delta VACUUM DRY RUN): candidates are returned, nothing is
    unlinked; the subsequent real vacuum deletes exactly that list."""
    df = spark.createDataFrame([(i, float(i)) for i in range(50)], "k long, v double")
    t = VersionedTable.create(spark, tmp_path / "d", df, key_col="k")
    t.update_where({"v": F.col("v") + 1.0}, F.col("k") < 25, prune={"k": (0, 24)})
    t.compact()
    cand = t.vacuum(retain_versions=1, dry_run=True)
    assert cand  # churn produced dead files
    assert all((t.root / p).exists() for p in cand)  # nothing deleted
    assert t.snapshot(0).count() == 50  # time travel intact
    real = t.vacuum(retain_versions=1)
    assert sorted(real) == sorted(cand)
    assert not any((t.root / p).exists() for p in real)


def test_analyze_stats_harvest_metadata_only(spark, tmp_path):
    """Round 9 (ANALYZE TABLE): declaring stats columns after the fact
    harvests per-file [min,max] from footers — zero data reads, zero
    rewrite — range reads prune immediately, subsequent writes keep
    recording the columns, and incremental consumers skip the analyze
    commit as row-preserving."""
    import database_anonymiser_spark.sources.versioned as V
    from database_anonymiser_spark.operators.ivm import IncrementalAggView

    root = tmp_path / "a"
    df = spark.createDataFrame(
        [(i, i % 7, float(i)) for i in range(700)], "k long, lab int, v double"
    )
    df.repartitionByRange(7, F.col("lab")).write.parquet(str(root / "raw"))
    t = VersionedTable.convert(spark, root / "raw", key_col="k")
    assert t.stats_cols() == ()
    # view maintained across the analyze: refresh must be metadata-only
    view = IncrementalAggView.create(
        spark, tmp_path / "view", t, group_col="lab", sum_col="v"
    )

    f0 = V.DATA_FILES_READ
    v = t.analyze(("lab",))
    assert V.DATA_FILES_READ == f0  # footer-only: no parquet data read
    assert t.stats_cols() == ("lab",)
    assert t.latest_version() == v
    n_live = len(t._live_entries())
    pruned = t.files_matching({"lab": (0, 0)})
    assert 0 < len(pruned) < n_live  # the new stats prune immediately
    assert t.snapshot().count() == 700  # row set unchanged
    assert _rows(t.snapshot(v - 1)) == _rows(t.snapshot(v))

    # changes() across the analyze yields nothing; IVM refresh advances
    # the cursor without reading data
    assert t.changes(v - 1).count() == 0
    f1 = V.DATA_FILES_READ
    view.refresh(t)
    assert view.cursor() == v
    assert V.DATA_FILES_READ == f1  # pure metadata cursor advance
    # a later write keeps recording the declared stats column
    t.append(spark.createDataFrame([(9000, 3, 1.0)], "k long, lab int, v double"))
    newest = [e for e in t._live_entries() if e["path"].startswith("data/")]
    assert any((e.get("stats") or {}).get("lab") for e in newest)


def test_bloom_sidecar_point_lookup_second_access_path(spark, tmp_path):
    """Round 9 (Delta bloom-filter index): a table clustered by one
    column gets point-lookup FILE pruning on a DIFFERENT, hash-scattered
    column via per-file bloom sidecars — where [min,max] stats span the
    whole domain and prune nothing. Sidecars live under _bloom/ (never
    in the log), are maintained by subsequent writes, never produce
    false-negative pruning, and die with their files at vacuum."""
    import json as _json

    import database_anonymiser_spark.sources.versioned as V

    root = tmp_path / "b"
    # k-clustered files; 'tag' is hash-scattered so every file's tag
    # range spans the domain (range stats useless for tag lookups)
    df = spark.createDataFrame(
        [(i, f"t{(i * 7919) % 1000:03d}", float(i)) for i in range(2000)],
        "k long, tag string, v double",
    )
    t = VersionedTable.create(spark, root, df, key_col="k")
    t.optimize_zorder(("k",), file_count=8)
    n_live = len(t._live_entries())
    assert n_live >= 8

    # range stats alone cannot prune the scattered column
    assert len(t.files_matching_any("tag", ["t013"])) == n_live

    v = t.analyze(bloom_cols=("tag",))
    assert "bloom:tag" in t.stats_cols()
    # log stays tiny: the commit JSON holds sidecar PATHS, not bitmaps
    rec = _json.loads(V._log_path(t.root, v).read_text())
    assert all(
        ref.startswith("_bloom/")
        for a in rec["adds"] for ref in (a.get("bloom") or {}).values()
    )
    assert len(V._log_path(t.root, v).read_bytes()) < 64 * 1024

    probed = t.files_matching_any("tag", ["t013"])
    assert 0 < len(probed) < n_live  # bloom pruned where ranges couldn't
    # zero false negatives over every present value (bloom keeps, never
    # wrongly drops): each tag's actual file must be in the probed set
    got = sorted(
        r["k"] for r in t.read_matching_any("tag", ["t013"]).collect()
    )
    want = sorted(
        r["k"] for r in t.snapshot().where(F.col("tag") == "t013").collect()
    )
    assert got == want and want
    # an absent value prunes (essentially) every file — allow the 1% fpp
    assert len(t.files_matching_any("tag", ["zzz-absent"])) <= 1

    # subsequent writes MAINTAIN the index: merged files get sidecars
    t.merge(
        spark.createDataFrame(
            [(5000, "tNEW", 1.0)], "k long, tag string, v double"
        ),
        when_matched="update",
    )
    assert sorted(
        r["k"] for r in t.read_matching_any("tag", ["tNEW"]).collect()
    ) == [5000]
    newest = [e for e in t._live_entries() if (e.get("bloom") or {}).get("tag")]
    assert len(newest) == len(t._live_entries())  # every live file indexed

    # vacuum reclaims sidecars with their files
    t.compact()
    dead = t.vacuum(retain_versions=1)
    assert any(p.startswith("_bloom/") for p in dead)
    live_refs = {
        p for e in t._live_entries() for p in (e.get("bloom") or {}).values()
    }
    on_disk = {str(p.relative_to(t.root)) for p in (t.root / "_bloom").glob("*.bf")}
    assert on_disk == live_refs  # exactly the live sidecars survive
    # and the probe still answers correctly post-vacuum
    assert sorted(
        r["k"] for r in t.read_matching_any("tag", ["t013"]).collect()
    ) == want


def test_rename_column_zero_rewrite_mapping(spark, tmp_path):
    """Round 9 (Delta column mapping): RENAME updates only the logged
    logical schema + the logical→physical map — no file is rewritten,
    data skipping survives (stats/bloom keys are physical), reads and
    writes use the new name, time travel shows the old name, and the
    KEY column itself can be renamed."""
    import database_anonymiser_spark.sources.versioned as V

    df = spark.createDataFrame(
        [(i, f"n{i}", float(i)) for i in range(100)], "k long, name string, v double"
    )
    t = VersionedTable.create(spark, tmp_path / "r", df, key_col="k")
    t.optimize_zorder(("v",), file_count=4)
    files_before = sorted(e["path"] for e in t._live_entries())

    v_pre = t.latest_version()
    t.rename_column("v", "score")
    assert sorted(e["path"] for e in t._live_entries()) == files_before  # zero rewrite
    assert [f.name for f in t.snapshot().schema.fields] == ["k", "name", "score"]
    assert t.snapshot().where(F.col("score") == 42.0).count() == 1
    # time travel BEFORE the rename serves the old name
    assert "v" in t.snapshot(v_pre).columns and "score" not in t.snapshot(v_pre).columns
    # data skipping under the NEW logical name (stats recorded physical)
    n_live = len(t._live_entries())
    assert 0 < len(t.files_matching({"score": (0.0, 10.0)})) < n_live

    # writes under the new name: merge + update + append
    t.merge(
        spark.createDataFrame([(1, "upd", 9999.5), (500, "new", 1.5)],
                              "k long, name string, score double"),
        when_matched="update",
    )
    got = {r["k"]: r["score"] for r in t.snapshot().collect()}
    assert got[1] == 9999.5 and got[500] == 1.5 and len(got) == 101
    t.update_where({"score": F.col("score") + 1000.0}, F.col("k") == 2,
                   prune={"k": (2, 2)})
    assert t.snapshot().where("k = 2").first()["score"] == 1002.0
    t.append(spark.createDataFrame([(600, "a", 0.5)],
                                   "k long, name string, score double"))
    assert t.snapshot().count() == 102

    # KEY column rename: merges keep working keyed on the new name
    t.rename_column("k", "id")
    assert t.key_col() == "id"
    t.merge(
        spark.createDataFrame([(600, "A", 0.7)],
                              "id long, name string, score double"),
        when_matched="update",
    )
    assert t.snapshot().where("id = 600").first()["name"] == "A"
    # the full history replays through a checkpoint boundary
    for i in range(V.CHECKPOINT_INTERVAL):
        t.append(spark.createDataFrame([(700 + i, "x", 0.1)],
                                       "id long, name string, score double"))
    t2 = VersionedTable(spark, tmp_path / "r")  # fresh handle: replays log
    assert t2.snapshot().where(F.col("score") == 9999.5).count() == 1
    assert [f.name for f in t2.snapshot().schema.fields] == ["id", "name", "score"]

    # refusals
    with pytest.raises(ValueError, match="already exists"):
        t.rename_column("name", "score")
    with pytest.raises(ValueError, match="no such column"):
        t.rename_column("ghost", "g2")
    # renaming BACK to a historical physical of a different column: the
    # bytes on disk under 'v' belong to logical 'score' - refuse 'name'->'v'
    with pytest.raises(ValueError, match="physical"):
        t.rename_column("name", "v")
    t.add_constraint("pos", "score >= 0.0")
    with pytest.raises(ValueError, match="constraint"):
        t.rename_column("score", "points")


def test_drop_column_metadata_only_and_resurrection_guard(spark, tmp_path):
    """DROP COLUMN is metadata-only; the physical name is retired so a
    later evolution cannot resurrect old bytes under it."""
    df = spark.createDataFrame(
        [(i, f"n{i}", float(i)) for i in range(20)], "k long, name string, v double"
    )
    t = VersionedTable.create(spark, tmp_path / "d", df, key_col="k")
    files_before = sorted(e["path"] for e in t._live_entries())
    v_pre = t.latest_version()
    t.drop_column("v")
    assert sorted(e["path"] for e in t._live_entries()) == files_before
    assert [f.name for f in t.snapshot().schema.fields] == ["k", "name"]
    assert t.snapshot(v_pre).where(F.col("v") == 3.0).count() == 1  # time travel
    with pytest.raises(ValueError, match="key column"):
        t.drop_column("k")
    # resurrection guard: evolving a NEW column named 'v' must refuse -
    # every existing file still holds the dropped column's bytes as 'v'
    with pytest.raises(ValueError, match="physical"):
        t.append(
            spark.createDataFrame([(100, "x", "fresh")],
                                  "k long, name string, v string"),
            merge_schema=True,
        )
    # a non-colliding evolution still works and round-trips
    t.append(
        spark.createDataFrame([(100, "x", 7)], "k long, name string, w long"),
        merge_schema=True,
    )
    assert t.snapshot().where("w = 7").count() == 1
    # rename after drop composes: name->label, reads fine
    t.rename_column("name", "label")
    assert t.snapshot().where(F.col("label") == "n3").count() == 1


def test_deletion_vectors_trickle_delete_lifecycle(spark, tmp_path):
    """Round 9 (Delta deletion vectors): delete_where(dv=True) marks rows
    dead in per-file sidecars — zero rewrite — and EVERY read face honors
    them: snapshot, row_count, point/range reads, merge, CDF (newly-dead
    rows surface as delete events via the (path, dv) file identity),
    RESTORE rolls a DV state back, compact/purge materialize them away,
    and erase purges first. Above DV_COLLECT_CAP the call falls back to
    the rewrite path."""
    import database_anonymiser_spark.sources.versioned as V

    df = spark.createDataFrame(
        [(i, f"n{i}", float(i)) for i in range(1000)],
        "k long, name string, v double",
    )
    t = VersionedTable.create(spark, tmp_path / "t", df, key_col="k")
    files_before = sorted(e["path"] for e in t._live_entries())

    v1 = t.delete_where(F.col("k").isin(3, 500, 997), dv=True)
    # zero rewrite: same data files, a DV sidecar appeared
    assert sorted(e["path"] for e in t._live_entries()) == files_before
    assert any(e.get("dv") for e in t._live_entries())
    assert (tmp_path / "t" / "_dv").is_dir()
    # every read face filters
    assert t.snapshot().count() == 997
    assert t.snapshot().where("k in (3, 500, 997)").count() == 0
    assert t.row_count() == 997  # pure log arithmetic (num_rows - dv_count)
    assert t.read_where({"k": (0, 10)}).count() == 10  # 3 gone
    # time travel BEFORE the DV still sees the rows
    assert t.snapshot(v1 - 1).count() == 1000

    # CDF: the DV commit yields exactly the three deletes
    ch = t.diff(v1 - 1, v1)
    got = {(r["_change_type"], r["k"]) for r in ch.collect()}
    assert got == {("delete", 3), ("delete", 500), ("delete", 997)}

    # cumulative second DV on the same file(s)
    t.delete_where(F.col("k") == 4, dv=True)
    assert t.snapshot().count() == 996
    assert t.row_count() == 996

    # merge cannot resurrect a DV'd row; inserts/updates work
    t.merge(
        spark.createDataFrame(
            [(5, "UPD", 1.0), (2000, "new", 2.0)], "k long, name string, v double"
        ),
        when_matched="update",
    )
    snap = {r["k"]: r["name"] for r in t.snapshot().collect()}
    assert snap[5] == "UPD" and snap[2000] == "new"
    assert 3 not in snap and 4 not in snap and len(snap) == 997

    # RESTORE to the one-DV state brings k=4 back but not k=3
    t.restore(v1)
    ks = {r["k"] for r in t.snapshot().select("k").collect()}
    assert 4 in ks and 3 not in ks and 2000 not in ks

    # purge_dv materializes: rows unchanged, vectors gone, dead bytes gone
    n = t.snapshot().count()
    t.purge_dv()
    assert t.snapshot().count() == n
    assert not any(e.get("dv") for e in t._live_entries())
    assert t.purge_dv() == t.latest_version()  # no-op without vectors

    # cap: a mass delete falls back to the REWRITE path (no new DV)
    t2 = VersionedTable.create(
        spark, tmp_path / "cap",
        spark.createDataFrame([(i, float(i)) for i in range(500)], "k long, v double"),
        key_col="k",
    )
    import pytest as _p

    monkey_cap = V.DV_COLLECT_CAP
    try:
        V.DV_COLLECT_CAP = 10
        t2.delete_where(F.col("k") < 100, dv=True)  # 100 > cap -> rewrite
    finally:
        V.DV_COLLECT_CAP = monkey_cap
    assert t2.snapshot().count() == 400
    assert not any(e.get("dv") for e in t2._live_entries())

    # erase on a DV-bearing table purges first, then hard-deletes
    t3 = VersionedTable.create(
        spark, tmp_path / "er",
        spark.createDataFrame([(i, f"s{i}") for i in range(50)], "k long, name string"),
        key_col="k",
    )
    t3.delete_where(F.col("k") == 7, dv=True)
    out = t3.erase(F.col("k") == 8)
    assert out["rows_deleted"] == 1
    # nothing on disk holds k=7 or k=8 anymore (the erase contract)
    import pyarrow.parquet as pq

    for p in (tmp_path / "er").rglob("*.parquet"):
        tb = pq.read_table(str(p), columns=["k"])
        ks_disk = set(tb.column(0).to_pylist())
        assert 7 not in ks_disk and 8 not in ks_disk


def test_deletion_vectors_ivm_and_vacuum(spark, tmp_path):
    """A maintained view stays EXACT across DV deletes (the change feed
    delivers them as ordinary delete events), and vacuum reclaims DV
    sidecars with their files."""
    from database_anonymiser_spark.operators.ivm import IncrementalAggView

    df = spark.createDataFrame(
        [(i, i % 5, float(i)) for i in range(300)], "k long, lab int, v double"
    )
    t = VersionedTable.create(spark, tmp_path / "b", df, key_col="k")
    view = IncrementalAggView.create(
        spark, tmp_path / "view", t, group_col="lab", sum_col="v", minmax=True
    )
    t.delete_where(F.col("k").isin(0, 7, 23, 104), dv=True)
    view.refresh(t)
    want = {
        (r["lab"], r["n_rows"], r["sum_value"], r["min_value"], r["max_value"])
        for r in t.snapshot().groupBy("lab").agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("v").cast("double").alias("sum_value"),
            F.min("v").cast("double").alias("min_value"),
            F.max("v").cast("double").alias("max_value"),
        ).collect()
    }
    got = {
        (r["lab"], r["n_rows"], r["sum_value"], r["min_value"], r["max_value"])
        for r in view.snapshot().select(
            "lab", "n_rows", "sum_value", "min_value", "max_value"
        ).collect()
    }
    assert got == want

    # compact materializes the DVs; retention vacuum reclaims sidecars
    t.compact()
    dead = t.vacuum(retain_versions=1)
    assert any(p.startswith("_dv/") for p in dead)
    assert not list((tmp_path / "b" / "_dv").glob("*.dv"))
    assert t.snapshot().count() == 296


def test_apply_changes_multi_clause_single_commit(spark, table):
    """apply_changes (Delta's APPLY CHANGES INTO / multi-clause MERGE):
    matched upserts replace, matched deletes drop, unmatched upserts
    insert, unmatched deletes no-op — all in ONE commit; replaying the
    same batch is idempotent; op values and duplicate keys validated."""
    v0 = table.latest_version()
    changes = spark.createDataFrame(
        [
            (3, "three", 3.3, "upsert"),     # matched upsert
            (5, None, 0.0, "delete"),        # matched delete
            (100, "hundred", 1.0, "upsert"), # unmatched upsert
            (999, None, 0.0, "delete"),      # unmatched delete: no-op
        ],
        "k long, name string, v double, _op string",
    )
    v1 = table.apply_changes(changes, meta={"stream_epoch": 7})
    assert v1 == v0 + 1  # one atomic commit for all four clauses
    assert table.commit_op(v1) == "apply_changes"
    snap = {r["k"]: (r["name"], r["v"]) for r in table.snapshot().collect()}
    assert snap[3] == ("three", 3.3)
    assert 5 not in snap
    assert snap[100] == ("hundred", 1.0)
    assert 999 not in snap
    assert len(snap) == 20  # 20 - 1 delete + 1 insert

    # replay of the identical batch: same final state (idempotent)
    table.apply_changes(changes)
    snap2 = {r["k"]: (r["name"], r["v"]) for r in table.snapshot().collect()}
    assert snap2 == snap

    # the change feed of the apply commit is the four-clause outcome
    d = {
        (r["_change_type"], r["k"])
        for r in table.diff(v0, v1, images="both").collect()
    }
    assert d == {
        ("update_preimage", 3), ("update_postimage", 3),
        ("delete", 5), ("insert", 100),
    }

    with pytest.raises(ValueError, match="upsert' or 'delete"):
        table.apply_changes(
            spark.createDataFrame(
                [(1, "x", 1.0, "nope")], "k long, name string, v double, _op string"
            )
        )
    with pytest.raises(ValueError, match="duplicate"):
        table.apply_changes(
            spark.createDataFrame(
                [(1, "x", 1.0, "upsert"), (1, None, 0.0, "delete")],
                "k long, name string, v double, _op string",
            )
        )
    with pytest.raises(ValueError, match="op_col"):
        table.merge(
            spark.createDataFrame([(1, "x", 1.0)], "k long, name string, v double"),
            op_col="_op",
        )


def test_add_column_pure_metadata(spark, table):
    """ALTER TABLE ADD COLUMN: a zero-data-read metadata commit; old
    rows NULL-fill, later writes populate, time travel shows the old
    schema, the file-level diff across it is empty, and the
    resurrection guard refuses a dropped column's physical name."""
    import database_anonymiser_spark.sources.versioned as V

    f0 = V.DATA_FILES_READ
    v = table.add_column("score", "double")
    assert V.DATA_FILES_READ == f0  # pure metadata
    assert table.commit_op(v) == "add_column"
    snap = table.snapshot()
    assert snap.schema["score"].dataType.typeName() == "double"
    assert snap.where("score is not null").count() == 0
    assert "score" not in table.snapshot(version=v - 1).columns  # travel

    table.append(
        spark.createDataFrame([(100, "x", 1.0, 9.9)],
                              "k long, name string, v double, score double")
    )
    assert table.snapshot().where("score = 9.9").first()["k"] == 100
    # the add-column interval's file-level diff is empty
    assert table.diff(v - 1, v).count() == 0

    with pytest.raises(ValueError, match="already exists"):
        table.add_column("score", "double")
    table.drop_column("score")
    with pytest.raises(ValueError, match="historical physical"):
        table.add_column("score", "long")  # old files hold score bytes
    with pytest.raises(ValueError, match="not a data type"):
        table.add_column("z", 42)


def test_merge_commit_records_free_operation_metrics(spark, table):
    """Delta's operationMetrics slot: merge/apply commits record the
    already-computed source size, skip outcome, and rewrite scope —
    zero extra jobs."""
    v = table.merge(
        spark.createDataFrame(
            [(1, "UPD", 0.5), (100, "new", 1.0)],
            "k long, name string, v double",
        ),
        when_matched="update",
        skip_by="points",
    )
    m = table.history()[-1]["meta"]["metrics"]
    assert m["source_rows"] == 2 and m["skip_by"] == "points"
    assert m["files_written"] >= 1
    assert m["files_touched"] + m["files_carried"] >= 1
    assert table.commit_op(v).startswith("merge")


def test_apply_changes_randomized_model_twin(spark, tmp_path):
    """Randomized CDC-apply twin: a seeded sequence of collapsed change
    batches (upserts + deletes over a small key space, interleaved with
    compactions) applied through apply_changes must equal a plain
    Python dict replaying the same events — every clause combination
    (matched/unmatched × upsert/delete) occurs by volume."""
    import random

    rng = random.Random(20260815)
    t = VersionedTable.create(
        spark,
        tmp_path / "t",
        spark.createDataFrame(
            [(k, float(k)) for k in range(10)], "k long, v double"
        ),
        key_col="k",
    )
    model = {k: float(k) for k in range(10)}

    for step in range(8):
        keys = rng.sample(range(25), rng.randint(1, 8))
        batch = []
        for k in keys:
            if rng.random() < 0.35:
                batch.append((k, 0.0, "delete"))
                model.pop(k, None)
            else:
                val = round(rng.uniform(0, 100), 3)
                batch.append((k, val, "upsert"))
                model[k] = val
        t.apply_changes(
            spark.createDataFrame(batch, "k long, v double, _op string"),
            skip_by=rng.choice(("range", "points")),
        )
        if step % 3 == 2:
            t.compact()
        if step % 4 == 3:
            # FULL-SYNC merge (round 9): mirror the table onto a random
            # complete extract — scoped to a random key band half the
            # time (out-of-band model rows must survive)
            ext = {
                k: round(rng.uniform(0, 100), 3)
                for k in rng.sample(range(25), rng.randint(3, 12))
            }
            scope = None
            if rng.random() < 0.5:
                lo = rng.randint(0, 12)
                scope = {"k": (lo, lo + rng.randint(3, 12))}
            src = spark.createDataFrame(list(ext.items()), "k long, v double")
            t.merge(
                src,
                not_matched_by_source="delete",
                by_source_scope=scope,
            )
            if scope is None:
                model = dict(ext)
            else:
                lo, hi = scope["k"]
                model = {
                    k: v for k, v in model.items() if not (lo <= k <= hi)
                } | ext
        got = {r["k"]: r["v"] for r in t.snapshot().collect()}
        assert got == model, f"step {step}"


def test_merge_not_matched_by_source_full_sync(spark, table):
    """not_matched_by_source='delete' (unscoped): the committed state IS
    the source — matched rows update, fresh rows insert, vanished rows
    delete, one atomic commit (Delta whenNotMatchedBySourceDelete)."""
    src = spark.createDataFrame(
        [(3, "sync3", -3.0), (7, "name7", 70.0), (999, "new", 9.0)],
        "k long, name string, v double",
    )
    v = table.merge(src, not_matched_by_source="delete")
    got = _rows(table.snapshot())
    assert got == _rows(src)
    m = table.history()[-1]["meta"]["metrics"]
    assert m["by_source"] == "delete" and m["files_carried"] == 0
    # time travel unaffected
    assert table.snapshot(version=v - 1).count() == 20


def test_merge_by_source_scope_prunes_files_and_rows(spark, tmp_path):
    """by_source_scope: files provably outside the scope carry over BY
    REFERENCE (never read), and rows outside the scope inside a read
    file survive — only in-scope unmatched rows are deleted."""
    import database_anonymiser_spark.sources.versioned as V

    df = (
        spark.range(300)
        .select(F.col("id").alias("k"), (F.col("id") * 2.0).alias("v"))
        .repartitionByRange(3, "k")
        .sortWithinPartitions("k")
    )
    t = VersionedTable.create(spark, tmp_path / "t", df, key_col="k")
    v0_paths = {e["path"] for e in t._live_entries(0)}
    assert len(v0_paths) == 3

    # sync the band [200, 240]: keep evens updated, odds vanish
    src = (
        spark.range(200, 241, 2)
        .select(F.col("id").alias("k"), F.lit(-1.0).alias("v"))
    )
    f0 = V.DATA_FILES_READ
    t.merge(
        src,
        not_matched_by_source="delete",
        by_source_scope={"k": (200, 240)},
    )
    reads = V.DATA_FILES_READ - f0
    assert reads == 1  # only the file holding the scope band
    carried = v0_paths & {e["path"] for e in t._live_entries(1)}
    assert len(carried) == 2
    got = {r["k"]: r["v"] for r in t.snapshot().collect()}
    # in scope: evens updated, odds gone
    assert got[200] == -1.0 and got[240] == -1.0 and 201 not in got
    # outside scope (even in the rewritten file): untouched
    assert got[199] == 398.0 and got[241] == 482.0 and got[0] == 0.0
    assert len(got) == 300 - 20  # 20 odd keys in [200, 240] deleted


def test_merge_by_source_empty_source_is_scoped_delete(spark, table):
    """An EMPTY full extract under a scope deletes every in-scope row
    (and nothing else) — the degenerate full-sync case must not
    short-circuit to a no-op."""
    empty = spark.createDataFrame([], "k long, name string, v double")
    table.merge(
        empty,
        not_matched_by_source="delete",
        by_source_scope={"k": (5, 9)},
    )
    ks = {r["k"] for r in table.snapshot().select("k").collect()}
    assert ks == set(range(5)) | set(range(10, 20))


def test_merge_by_source_null_scope_eval_keeps_row(spark, tmp_path):
    """A row whose scope predicate evaluates NULL is KEPT — the
    by-source condition must be TRUE to delete (SQL MERGE)."""
    df = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, 30.0)], "k long, v double"
    )
    t = VersionedTable.create(spark, tmp_path / "t", df, key_col="k")
    src = spark.createDataFrame([(1, 10.0)], "k long, v double")
    t.merge(src, not_matched_by_source="delete", by_source_scope={"v": (0.0, 99.0)})
    ks = {r["k"] for r in t.snapshot().select("k").collect()}
    assert ks == {1, 2}  # k=3 in scope+unmatched -> gone; k=2 NULL -> kept


def test_merge_by_source_validation(spark, table):
    src = spark.createDataFrame([(1, "a", 0.0)], "k long, name string, v double")
    with pytest.raises(ValueError, match="not_matched_by_source"):
        table.merge(src, not_matched_by_source="update")
    with pytest.raises(ValueError, match="incompatible with op_col"):
        table.merge(
            src.withColumn("_op", F.lit("upsert")),
            op_col="_op",
            not_matched_by_source="delete",
        )
    with pytest.raises(ValueError, match="by_source_scope requires"):
        table.merge(src, by_source_scope={"k": (0, 1)})


def test_merge_by_source_cdf_events(spark, table):
    """The change feed of a full-sync merge carries exactly the rows
    that changed: deletes for vanished keys, update pre/post for keys
    whose image changed, NOTHING for matched-but-identical rows."""
    # keep k in [0, 16], update only k=4 (others keep identical images)
    keep = table.snapshot().where(F.col("k") <= 16)
    src = keep.withColumn(
        "v", F.when(F.col("k") == 4, F.lit(-4.0)).otherwise(F.col("v"))
    )
    v = table.merge(src, not_matched_by_source="delete")
    d = table.diff(v - 1, v, images="both")
    by_type = {
        ct: sorted(r["k"] for r in rows)
        for ct, rows in (
            (ct, d.where(F.col("_change_type") == ct).collect())
            for ct in ("delete", "update_preimage", "update_postimage", "insert")
        )
    }
    assert by_type["delete"] == [17, 18, 19]
    assert by_type["update_preimage"] == [4]
    assert by_type["update_postimage"] == [4]
    assert by_type["insert"] == []


def test_merge_schema_evolution_adds_column_in_same_commit(spark, table):
    """merge_schema=True: an additive source column advances the logged
    schema IN the merge commit — touched files carry it, untouched and
    historical reads NULL-fill, and the next plain merge sees it as a
    table column (Delta autoMerge)."""
    src = spark.createDataFrame(
        [(3, "upd3", -3.0, "gold"), (999, "new", 9.0, "silver")],
        "k long, name string, v double, tier string",
    )
    # without the flag extra source columns are IGNORED (Delta's
    # updateAll/insertAll contract when autoMerge is off)
    table.merge(src)
    assert table.snapshot().columns == ["k", "name", "v"]
    v = table.merge(src, merge_schema=True)
    snap = table.snapshot()
    assert snap.columns == ["k", "name", "v", "tier"]
    got = {r["k"]: (r["name"], r["tier"]) for r in snap.collect()}
    assert got[3] == ("upd3", "gold") and got[999] == ("new", "silver")
    assert got[0] == ("name0", None)  # untouched row NULL-fills
    assert snap.count() == 21
    # time travel below the evolution shows the OLD schema
    assert table.snapshot(version=v - 1).columns == ["k", "name", "v"]
    # and a later plain merge must now supply (or evolve past) 'tier'
    nxt = spark.createDataFrame(
        [(5, "u5", 1.0, None)], "k long, name string, v double, tier string"
    )
    table.merge(nxt)  # exact evolved schema: no flag needed
    assert table.snapshot().where("k = 5").first()["tier"] is None


def test_merge_schema_evolution_preserves_target_only_cols(spark, table):
    """Target columns the source lacks KEEP the target row's value on
    matched updates (Delta autoMerge updateAll parity — round 10; they
    were previously NULL-wiped) and insert NULL on unmatched rows."""
    src = spark.createDataFrame([(4, "only-name4"), (777, "n777")], "k long, name string")
    table.merge(src, merge_schema=True)
    got = {r["k"]: (r["name"], r["v"]) for r in table.snapshot().collect()}
    assert got[4] == ("only-name4", 40.0)  # v preserved, not wiped
    assert got[777] == ("n777", None)  # insert: no source value -> NULL
    assert got[6] == ("name6", 60.0)  # unmatched rows untouched


def test_merge_schema_evolution_rejects_type_change(spark, table):
    src = spark.createDataFrame([(1, "x", 5)], "k long, name string, v long")
    with pytest.raises(ValueError, match="cannot change column types"):
        table.merge(src, merge_schema=True)


def test_apply_changes_schema_evolution_replica_follows_ddl(spark, tmp_path):
    """A CDC replica following upstream ADD COLUMN: apply_changes with
    merge_schema=True lands the widened feed batch and the evolution in
    one commit; earlier replica rows NULL-fill."""
    base = spark.createDataFrame(
        [(i, f"n{i}") for i in range(10)], "k long, name string"
    )
    t = VersionedTable.create(spark, tmp_path / "r", base, key_col="k")
    feed = spark.createDataFrame(
        [(2, "n2", "eu", "upsert"), (11, "n11", "us", "upsert"), (5, None, None, "delete")],
        "k long, name string, region string, _op string",
    )
    t.apply_changes(feed, merge_schema=True)
    snap = t.snapshot()
    assert snap.columns == ["k", "name", "region"]
    got = {r["k"]: r["region"] for r in snap.collect()}
    assert got[2] == "eu" and got[11] == "us" and 5 not in got
    assert got[0] is None and len(got) == 10


def test_vacuum_retain_hours_resolves_to_version_window(spark, table):
    """vacuum(retain_hours=H) keeps exactly the versions committed
    inside the window (boundary via the clamp-correct version_at):
    parity with the equivalent retain_versions call, dry-run first."""
    import datetime as _dt
    import database_anonymiser_spark.sources.versioned as V

    # churn: 4 rewrite commits so old files become reclaimable
    for i in range(4):
        table.update_where({"v": F.col("v") + 1.0}, F.col("k") < 100)
    # backdate commits: v0..v2 ten hours ago, v3 five hours ago, v4 now
    now = _dt.datetime.now(_dt.timezone.utc)
    ages_h = {0: 10, 1: 10, 2: 10, 3: 5, 4: 0}
    for v, age in ages_h.items():
        p = V._log_path(table.root, v)
        rec = json.loads(p.read_text())
        rec["ts"] = (now - _dt.timedelta(hours=age)).isoformat()
        p.write_text(json.dumps(rec))

    # window = 6h -> versions 3,4 committed inside, PLUS the boundary
    # version 2 (what snapshot_at resolves for any in-window timestamp
    # before v3's commit) -> retain_versions=3 parity
    want = sorted(table.vacuum(retain_versions=3, dry_run=True))
    got = sorted(table.vacuum(retain_hours=6, dry_run=True))
    assert got == want and len(got) > 0
    # window older than the whole history: nothing reclaimed
    assert table.vacuum(retain_hours=1000, dry_run=True) == []
    # real run: snapshot at the head still reads; pre-window time travel dies
    table.vacuum(retain_hours=6, orphan_grace_s=0)
    assert table.snapshot().count() == 20
    # TIMESTAMP AS OF inside the declared window but before its first
    # commit resolves to the boundary version — it must stay readable
    # after the vacuum (Delta keeps tombstones younger than the window)
    in_window_ts = (now - _dt.timedelta(hours=5.5)).isoformat()
    assert table.snapshot_at(in_window_ts).count() == 20
    with pytest.raises(Exception):
        table.snapshot(version=0).count()
    # validation
    with pytest.raises(ValueError, match="not both"):
        table.vacuum(retain_versions=2, retain_hours=1)
    with pytest.raises(ValueError, match=">= 0"):
        table.vacuum(retain_hours=-1)


def test_vacuum_retain_hours_rejects_timestampless_log(spark, table):
    import database_anonymiser_spark.sources.versioned as V

    for v in table.versions():
        p = V._log_path(table.root, v)
        rec = json.loads(p.read_text())
        rec.pop("ts", None)
        p.write_text(json.dumps(rec))
    with pytest.raises(ValueError, match="no.*timestamps|timestamps.*none"):
        table.vacuum(retain_hours=1)


def test_restore_to_timestamp(spark, table):
    """RESTORE ... TO TIMESTAMP AS OF: forward-commits the version_at
    resolution's live set."""
    table.update_where({"v": F.lit(0.0)}, F.col("k") >= 0)
    ts_after_v0 = table.history()[0]["ts"]
    v = table.restore_to_timestamp(ts_after_v0)
    assert v == table.latest_version()
    got = {r["k"]: r["v"] for r in table.snapshot().collect()}
    assert got[3] == 30.0  # original values back
    # the wiped state stays time-travelable (forward restore)
    assert table.snapshot(version=v - 1).where("v = 0.0").count() == 20


def test_table_properties_versioned_and_checkpointed(spark, table):
    """SET/UNSET TBLPROPERTIES: pure-metadata commits, versioned like
    the file state, surviving a checkpoint + replay-cache wipe."""
    import database_anonymiser_spark.sources.versioned as V

    assert table.table_properties() == {}
    v1 = table.set_properties({"owner": "pipeline-a", "tier": "bronze"})
    v2 = table.set_properties({"tier": "silver"})  # merge, not replace
    assert table.table_properties() == {"owner": "pipeline-a", "tier": "silver"}
    assert table.table_properties(version=v1) == {
        "owner": "pipeline-a", "tier": "bronze"
    }
    assert table.table_properties(version=0) == {}
    table.unset_properties(["owner", "absent-key"])  # IF EXISTS no-op
    assert table.table_properties() == {"tier": "silver"}
    # snapshot unaffected by the metadata commits
    assert table.snapshot().count() == 20
    # properties ride checkpoints: force one, wipe the memo, re-read
    V._write_checkpoint(table.root, table.latest_version())
    V._replay_cache_invalidate(table.root)
    assert table.table_properties() == {"tier": "silver"}


def test_describe_detail(spark, table):
    table.set_properties({"tier": "gold"})
    table.add_constraint("v_nonneg", "v >= 0")
    d = table.detail()
    assert d["version"] == table.latest_version()
    assert d["num_rows"] == 20 and d["num_files"] >= 1
    assert d["size_bytes"] > 0
    assert d["key_col"] == "k" and d["columns"] == ["k", "name", "v"]
    assert d["constraints"] == {"v_nonneg": "v >= 0"}
    assert d["properties"] == {"tier": "gold"}
    assert d["files_with_dv"] == 0 and d["column_mapping"] is False


def test_generated_columns_compute_validate_and_replay(spark, tmp_path):
    """GENERATED ALWAYS AS (create-time only, like Delta): writes that
    omit the column get it computed; writes that supply a divergent
    value are rejected by the auto-constraint; the expressions replay
    with the log (clone carries them; update_where rewrites are
    validated)."""
    from database_anonymiser_spark.sources.versioned import ConstraintViolation

    df = spark.createDataFrame(
        [(1, 10.0), (2, 20.0)], "k long, amount double"
    )
    t = VersionedTable.create(
        spark, tmp_path / "t", df, key_col="k",
        generated={"amount_cents": "CAST(amount * 100 AS BIGINT)"},
    )
    got = {r["k"]: r["amount_cents"] for r in t.snapshot().collect()}
    assert got == {1: 1000, 2: 2000}
    assert t.generated_columns() == {
        "amount_cents": "CAST(amount * 100 AS BIGINT)"
    }

    # append WITHOUT the column: computed
    t.append(spark.createDataFrame([(3, 1.5)], "k long, amount double"))
    assert t.snapshot().where("k = 3").first()["amount_cents"] == 150
    # append WITH a correct value: accepted; divergent: rejected
    t.append(
        spark.createDataFrame(
            [(4, 2.0, 200)], "k long, amount double, amount_cents bigint"
        )
    )
    with pytest.raises(ConstraintViolation):
        t.append(
            spark.createDataFrame(
                [(5, 2.0, 999)], "k long, amount double, amount_cents bigint"
            )
        )
    # merge without the column: computed for updates AND inserts
    t.merge(
        spark.createDataFrame([(1, 99.0), (9, 3.0)], "k long, amount double"),
        when_matched="update",
    )
    got = {r["k"]: r["amount_cents"] for r in t.snapshot().collect()}
    assert got[1] == 9900 and got[9] == 300
    # update_where that breaks the invariant is rejected (no silent drift)
    with pytest.raises(ConstraintViolation):
        t.update_where({"amount": F.col("amount") + 1.0}, "k = 2")
    # updating both together passes
    t.update_where(
        {
            "amount": F.col("amount") + 1.0,
            "amount_cents": F.expr("CAST((amount + 1.0) * 100 AS BIGINT)"),
        },
        "k = 2",
    )
    assert t.snapshot().where("k = 2").first()["amount_cents"] == 2100
    # key column cannot be generated
    with pytest.raises(ValueError, match="key column"):
        VersionedTable.create(
            spark, tmp_path / "bad", df, key_col="k", generated={"k": "k + 1"}
        )
    # initial rows contradicting the expression are rejected
    with pytest.raises(ConstraintViolation):
        VersionedTable.create(
            spark,
            tmp_path / "bad2",
            df.withColumn("amount_cents", F.lit(7).cast("bigint")),
            key_col="k",
            generated={"amount_cents": "CAST(amount * 100 AS BIGINT)"},
        )


def test_identity_column_allocation_and_always_semantics(spark, tmp_path):
    """GENERATED ALWAYS AS IDENTITY: create + append allocate unique
    ids >= start on the step grid; supplying the column is rejected;
    the high-water survives restarts (it lives in the commit log);
    merges of existing rows keep their ids, and a merge that would
    need fresh ids without them errors with guidance."""
    df = spark.createDataFrame(
        [(f"u{i}",) for i in range(40)], "name string"
    )
    t = VersionedTable.create(
        spark, tmp_path / "t", df.repartition(4), key_col="sk",
        identity_col="sk", identity_start=100, identity_step=2,
    )

    def ids():
        return [r["sk"] for r in t.snapshot().select("sk").collect()]

    first = ids()
    assert len(first) == len(set(first)) == 40
    assert min(first) >= 100 and all((i - 100) % 2 == 0 for i in first)

    # append allocates PAST everything before (fresh handle: the
    # high-water must come from the log, not object state)
    t2 = VersionedTable(spark, tmp_path / "t")
    t2.append(spark.createDataFrame([(f"v{i}",) for i in range(10)], "name string"))
    after = [r["sk"] for r in t2.snapshot().select("sk").collect()]
    assert len(after) == len(set(after)) == 50
    assert min(set(after) - set(first)) > max(first)

    # ALWAYS: supplying the column is rejected on create and append
    with pytest.raises(ValueError, match="GENERATED ALWAYS"):
        t2.append(
            spark.createDataFrame([(1, "x")], "sk long, name string")
        )
    with pytest.raises(ValueError, match="GENERATED ALWAYS"):
        VersionedTable.create(
            spark, tmp_path / "bad",
            spark.createDataFrame([(1, "x")], "sk long, name string"),
            key_col="sk", identity_col="sk",
        )
    with pytest.raises(ValueError, match="identity_step"):
        VersionedTable.create(
            spark, tmp_path / "bad2", df, key_col="sk",
            identity_col="sk", identity_step=0,
        )

    # merge with EXISTING ids updates in place; without ids it refuses
    one = t2.snapshot().limit(1).collect()[0]
    t2.merge(
        spark.createDataFrame([(one["sk"], "RENAMED")], "sk long, name string"),
        when_matched="update",
    )
    assert t2.snapshot().where(F.col("sk") == one["sk"]).first()["name"] == "RENAMED"
    with pytest.raises(ValueError, match="does not allocate identity"):
        t2.merge(spark.createDataFrame([("w",)], "name string"))


def test_clone_carries_properties_generated_identity(spark, tmp_path):
    """CLONE forwards the property map — TBLPROPERTIES, generated
    expressions, and the identity state all keep working on the fork
    (identity ranges diverge after it: the clone is a new table)."""
    t = VersionedTable.create(
        spark,
        tmp_path / "src",
        spark.createDataFrame([("a", 2.0)], "name string, amount double"),
        key_col="sk",
        identity_col="sk",
        generated={"cents": "CAST(amount * 100 AS BIGINT)"},
    )
    t.set_properties({"tier": "gold"})
    c = VersionedTable.clone(spark, tmp_path / "src", tmp_path / "dst")
    assert c.table_properties()["tier"] == "gold"
    assert c.generated_columns() == {"cents": "CAST(amount * 100 AS BIGINT)"}
    assert c.identity_column() is not None
    c.append(spark.createDataFrame([("b", 3.0)], "name string, amount double"))
    rows = {r["name"]: (r["sk"], r["cents"]) for r in c.snapshot().collect()}
    assert rows["b"][1] == 300  # generated computed on the clone
    assert rows["b"][0] > rows["a"][0]  # identity allocated past the fork
    with pytest.raises(Exception):
        c.append(
            spark.createDataFrame(
                [("x", 1.0, 999)], "name string, amount double, cents bigint"
            )
        )  # divergent generated value still rejected on the clone


def test_merge_evolution_with_by_source_and_cdf_exactness(spark, table):
    """Interplays: (a) merge_schema + not_matched_by_source compose in
    one commit; (b) the change feed across an EVOLVING merge emits
    events ONLY for truly changed rows — a kept row whose only
    difference is the NULL-filled new column (old file: column absent,
    read NULL-filled; new file: explicit NULL) must be invisible."""
    # full sync onto a WIDER extract: keep k<10 with identical images
    # except k=4 (re-balanced), plus a new column 'tier' on everything
    src = spark.createDataFrame(
        [
            (k, f"name{k}", -4.0 if k == 4 else k * 10.0,
             "gold" if k % 2 == 0 else "std")
            for k in range(10)
        ] + [(500, "new", 1.0, "gold")],
        "k long, name string, v double, tier string",
    )
    v = table.merge(
        src, not_matched_by_source="delete", merge_schema=True
    )
    snap = table.snapshot()
    assert snap.columns == ["k", "name", "v", "tier"]
    assert _rows(snap) == _rows(src.select("k", "name", "v", "tier"))

    d = table.diff(v - 1, v, images="both")
    by = {
        ct: sorted(r["k"] for r in rows)
        for ct, rows in (
            (ct, d.where(F.col("_change_type") == ct).collect())
            for ct in ("delete", "update_preimage", "update_postimage", "insert")
        )
    }
    assert by["delete"] == list(range(10, 20))
    assert by["insert"] == [500]
    # every kept row gained tier: rows with tier=NULL... k odd -> 'std',
    # k even -> 'gold' — ALL matched rows changed (new non-NULL column)
    # except none are identical, so update events cover k 0..9
    assert by["update_preimage"] == list(range(10))

    # second evolving-free merge: re-assert identical images -> the diff
    # of THAT commit must be empty for kept rows (NULL-fill invisibility)
    v2 = table.merge(src, not_matched_by_source="delete")
    d2 = table.diff(v2 - 1, v2, images="both")
    assert d2.count() == 0


# ---------------------------------------------------------------------------
# Conditional multi-clause MERGE (round 10): Delta's whenMatchedUpdate(
# condition, set) / whenMatchedDelete(condition) / whenNotMatchedInsert(
# condition, values) grammar on the single-full-outer-join merge.
# ---------------------------------------------------------------------------


def test_merge_clauses_update_set_subset(spark, table):
    """Partial-column update: columns absent from `set` keep the target
    value bit-identically; unmatched target rows untouched; unmatched
    source rows NOT inserted when no insert clause is given."""
    src = spark.createDataFrame(
        [(3, 999.0), (7, 1000.0), (555, 5.0)], "k long, bump double"
    )
    v = table.merge(src, matched=[("update", None, {"v": "s.bump"})])
    got = {r["k"]: (r["name"], r["v"]) for r in table.snapshot().collect()}
    assert got[3] == ("name3", 999.0)  # v updated, name preserved
    assert got[7] == ("name7", 1000.0)
    assert got[5] == ("name5", 50.0)  # unmatched target untouched
    assert 555 not in got  # no insert clause -> source row dropped
    assert len(got) == 20
    m = table.commit_meta(v)["metrics"]
    assert m["matched_clauses"] == ["update"] and m["not_matched_clauses"] == 0


def test_merge_clauses_ordered_first_true_wins(spark, table):
    """Clause ORDER is precedence: a matched pair satisfying several
    conditions takes the FIRST clause; pairs no clause accepts are kept
    unchanged (SQL MERGE)."""
    src = spark.createDataFrame(
        [(1, 5.0), (2, 50.0), (3, 500.0)], "k long, nv double"
    )
    # k=1 (v=10): nv<v -> delete fires (first). k=2 (v=20): nv>=v ->
    # second clause updates. k=3 (v=30): 500>=30 -> update too, but the
    # guard s.nv < 100 excludes it -> kept unchanged.
    table.merge(
        src,
        matched=[
            ("delete", "s.nv < t.v"),
            ("update", "s.nv >= t.v AND s.nv < 100", {"v": "s.nv"}),
        ],
    )
    got = {r["k"]: r["v"] for r in table.snapshot().collect()}
    assert 1 not in got  # deleted by first clause
    assert got[2] == 50.0  # updated by second
    assert got[3] == 30.0  # no clause TRUE -> kept
    assert len(got) == 19


def test_merge_clauses_insert_conditional_values(spark, table):
    """whenNotMatchedInsert(condition, values): only passing source rows
    insert; values exprs compute columns, unspecified columns get NULL
    (Delta's insert(values) contract)."""
    src = spark.createDataFrame(
        [(100, 7.0), (101, -1.0), (5, 123.0)], "k long, score double"
    )
    table.merge(
        src,
        not_matched=[
            ("insert", "s.score > 0", {"k": "s.k", "v": "s.score * 2"})
        ],
    )
    got = {r["k"]: (r["name"], r["v"]) for r in table.snapshot().collect()}
    assert got[100] == (None, 14.0)  # name unspecified -> NULL
    assert 101 not in got  # condition FALSE -> not inserted
    assert got[5] == ("name5", 50.0)  # matched: no matched clause -> kept
    assert len(got) == 21


def test_merge_clauses_update_delete_insert_combined(spark, table):
    """The full Delta shape in ONE commit: conditional update + fallback
    delete + conditional insert, against a partial-schema source."""
    src = spark.createDataFrame(
        [(0, 1.0), (1, -1.0), (200, 3.0), (201, -3.0)], "k long, d double"
    )
    v = table.merge(
        src,
        matched=[
            ("update", "s.d > 0", {"v": "t.v + s.d"}),
            ("delete", None),  # matched rows failing the update condition
        ],
        not_matched=[("insert", "s.d > 0", {"k": "s.k", "v": "s.d"})],
    )
    got = {r["k"]: r["v"] for r in table.snapshot().collect()}
    assert got[0] == 0.0 + 1.0
    assert 1 not in got  # fallback delete
    assert got[200] == 3.0 and 201 not in got
    assert table.commit_op(v) == "merge_clauses"


def test_merge_clauses_validation_matrix(spark, table):
    src = spark.createDataFrame([(1, 2.0)], "k long, v double")
    with pytest.raises(ValueError, match="incompatible with op_col"):
        table.merge(src, op_col="v", matched=[("delete", None)])
    with pytest.raises(ValueError, match="supersede"):
        table.merge(src, when_matched="delete", matched=[("delete", None)])
    with pytest.raises(ValueError, match="LAST matched clause"):
        table.merge(
            src, matched=[("delete", None), ("update", "s.v > 0", None)]
        )
    with pytest.raises(ValueError, match="LAST not_matched clause"):
        table.merge(
            src,
            not_matched=[("insert", None, None), ("insert", "s.v > 0", None)],
        )
    with pytest.raises(ValueError, match="merge key"):
        table.merge(src, matched=[("update", None, {"k": "s.k + 1"})])
    with pytest.raises(ValueError, match="unknown target"):
        table.merge(src, matched=[("update", None, {"nope": "s.v"})])
    with pytest.raises(ValueError, match="non-empty"):
        table.merge(src, matched=[("update", None, {})])
    with pytest.raises(ValueError, match="kind"):
        table.merge(src, matched=[("upsert", None, None)])
    with pytest.raises(ValueError, match="clause is"):
        table.merge(src, matched=[("update", None)])
    # updateAll clause against a partial source: loud, not AnalysisException
    part = spark.createDataFrame([(1, 2.0)], "k long, d double")
    with pytest.raises(ValueError, match="missing"):
        table.merge(part, matched=[("update", None, None)])


def test_merge_clauses_constraint_checked_on_rewritten_image(spark, table):
    """A set expr can synthesize values the raw source never held: CHECK
    constraints validate the REWRITTEN image and abort the commit."""
    from database_anonymiser_spark.sources.versioned import ConstraintViolation

    table.add_constraint("v_nonneg", "v >= 0")
    v_before = table.latest_version()
    src = spark.createDataFrame([(3, 1.0)], "k long, d double")
    with pytest.raises(ConstraintViolation):
        table.merge(src, matched=[("update", None, {"v": "t.v - 1000"})])
    assert table.latest_version() == v_before  # nothing committed
    # and a passing one commits fine
    table.merge(src, matched=[("update", None, {"v": "t.v + s.d"})])
    assert table.snapshot().where("k = 3").first()["v"] == 31.0


def test_merge_clauses_insert_only_no_touched_files(spark, table):
    """Insert clauses fire even when NO target file intersects the
    source keys: the merge joins the source against the empty frame,
    whose emptiness the optimizer sees, so the join folds away."""
    src = spark.createDataFrame(
        [(10_000, 1.0), (10_001, -1.0)], "k long, s double"
    )
    folded = (
        table._empty_frame(table.latest_version())
        .alias("t")
        .join(src.alias("s"), F.col("t.k") == F.col("s.k"), "full_outer")
    )
    plan = folded._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in plan, plan
    v = table.merge(
        src,
        not_matched=[("insert", "s.s > 0", {"k": "s.k", "v": "s.s"})],
    )
    m = table.commit_meta(v)["metrics"]
    assert m["files_touched"] == 0
    got = {r["k"]: r["v"] for r in table.snapshot().collect()}
    assert got[10_000] == 1.0 and 10_001 not in got and len(got) == 21


def test_merge_markers_avoid_source_columns(spark, tmp_path):
    """The presence markers (_t/_s) and the by-source scope flag (_bs)
    shadow no column of the target or the source: a source column _s
    feeds clause expressions, and sources carrying _t or _bs merge
    through every spelling."""
    base = spark.createDataFrame([(1, 10.0), (2, 20.0)], "k long, v double")
    t = VersionedTable.create(spark, tmp_path / "t", base, key_col="k")
    src = spark.createDataFrame([(1, 5.0), (3, 7.0)], "k long, _s double")
    t.merge(
        src,
        matched=[("update", None, {"v": "s._s"})],
        not_matched=[("insert", None, {"k": "s.k", "v": "s._s"})],
    )
    assert _rows(t.snapshot()) == [(1, 5.0), (2, 20.0), (3, 7.0)]

    src = spark.createDataFrame(
        [(1, 6.0, 0, 0), (4, 8.0, 0, 0)], "k long, v double, _t int, _bs int"
    )
    t.merge(src)  # when_matched="update": extra source columns ignored
    assert _rows(t.snapshot()) == [(1, 6.0), (2, 20.0), (3, 7.0), (4, 8.0)]
    t.merge(
        src.withColumn("v", F.col("v") + 1),
        matched=[("update", None, None)],
        not_matched_by_source=[("delete", "t.k = 2")],
    )
    assert _rows(t.snapshot()) == [(1, 7.0), (3, 7.0), (4, 9.0)]


_UPDATE_ALL = [("update", None, None)]
_INSERT_ALL = [("insert", None, None)]
_UPSERT = "s.`op` = 'upsert'"

# (id, table key, legacy kwargs, equivalent clause kwargs, source keys,
#  commit op, legacy commit metrics) — each legacy spelling of merge and
# the clause lists it stands for
_LEGACY_SPELLINGS = [
    (
        "update_only",
        "k",
        {"when_matched": "update", "insert_not_matched": False},
        {"matched": _UPDATE_ALL},
        [4, 6, 7],
        "merge_update",
        {"files_touched": 1, "files_carried": 2, "files_written": 1},
    ),
    (
        "update_insert",
        "k",
        {},
        {"matched": _UPDATE_ALL, "not_matched": _INSERT_ALL},
        [4, 6, 7],
        "merge_update",
        {"files_touched": 1, "files_carried": 2, "files_written": 1},
    ),
    (
        "delete_only",
        "k",
        {"when_matched": "delete", "insert_not_matched": False},
        {"matched": [("delete", None)]},
        [4, 6, 7],
        "merge_delete",
        {"files_touched": 1, "files_carried": 2, "files_written": 1},
    ),
    (
        "delete_insert",
        "k",
        {"when_matched": "delete"},
        {"matched": [("delete", None)], "not_matched": _INSERT_ALL},
        [4, 6, 7],
        "merge_delete",
        {"files_touched": 1, "files_carried": 2, "files_written": 1},
    ),
    (
        "op_col",
        "k",
        {"op_col": "op"},
        {
            "matched": [("update", _UPSERT, None), ("delete", None)],
            "not_matched": [("insert", _UPSERT, None)],
        },
        [4, 6, 7, 9],
        "apply_changes",
        {"files_touched": 1, "files_carried": 2, "files_written": 1},
    ),
    (
        "by_source_scope",
        "k",
        {"not_matched_by_source": "delete", "by_source_scope": {"k": (0, 28)}},
        {
            "matched": _UPDATE_ALL,
            "not_matched": _INSERT_ALL,
            "not_matched_by_source": [("delete", None)],
            "by_source_scope": {"k": (0, 28)},
        },
        [4, 6, 7],
        "merge_update",
        {
            "files_touched": 2, "files_carried": 1, "files_written": 1,
            "by_source": "delete",
        },
    ),
    (
        "no_touched_insert",
        "k",
        {},
        {"matched": _UPDATE_ALL, "not_matched": _INSERT_ALL},
        [100, 101],
        "merge_update",
        {"files_touched": 0, "files_carried": 3, "files_written": 2},
    ),
    (
        "composite_key",
        ["k", "b"],
        {},
        {"matched": _UPDATE_ALL, "not_matched": _INSERT_ALL},
        [4, 6, 7],
        "merge_update",
        {"files_touched": 1, "files_carried": 2, "files_written": 1},
    ),
]


@pytest.mark.parametrize(
    "key, legacy, clauses, keys, op, metrics",
    [case[1:] for case in _LEGACY_SPELLINGS],
    ids=[case[0] for case in _LEGACY_SPELLINGS],
)
def test_merge_legacy_spellings_equal_their_clause_lists(
    spark, tmp_path, key, legacy, clauses, keys, op, metrics
):
    """Each legacy merge spelling (when_matched / insert_not_matched /
    op_col / by-source 'delete') commits the same snapshot as the clause
    lists it stands for, and keeps its own commit op and metrics."""
    schema = "k long, b long, name string, v double"

    def make(name):
        # three one-file bands of even keys: [0, 18], [20, 38], [40, 58]
        t = None
        for lo in (0, 20, 40):
            df = spark.createDataFrame(
                [(i, i % 3, f"n{i}", i * 1.0) for i in range(lo, lo + 20, 2)],
                schema,
            ).coalesce(1)
            if t is None:
                t = VersionedTable.create(spark, tmp_path / name, df, key_col=key)
            else:
                t.append(df)
        return t

    src = spark.createDataFrame(
        [(k, k % 3, f"s{k}", -1.0 * k, "delete" if k in (6, 9) else "upsert")
         for k in keys],
        schema + ", op string",
    )
    if "op_col" not in legacy:
        src = src.drop("op")
    a, b = make("legacy"), make("clauses")
    va = a.merge(src, **legacy)
    vb = b.merge(src, **clauses)
    assert _rows(a.snapshot()) == _rows(b.snapshot())
    assert _rows(a.snapshot()) != _rows(a.snapshot(va - 1))
    assert a.commit_op(va) == op and b.commit_op(vb) == "merge_clauses"
    assert a.commit_meta(va)["metrics"] == {
        "source_rows": len(keys), "skip_by": "range", **metrics,
    }


def test_merge_clauses_generated_columns_recomputed(spark, tmp_path):
    """Generated columns are refused in `set` and RECOMPUTED from the
    post-update image (Delta's recompute-on-update)."""
    base = spark.createDataFrame(
        [(1, 2.0), (2, 3.0)], "k long, price double"
    )
    t = VersionedTable.create(
        spark, tmp_path / "g", base, key_col="k",
        generated={"price2": "price * 2"},
    )
    src = spark.createDataFrame([(1, 10.0)], "k long, np double")
    with pytest.raises(ValueError, match="generated"):
        t.merge(src, matched=[("update", None, {"price2": "s.np"})])
    t.merge(src, matched=[("update", None, {"price": "s.np"})])
    got = {r["k"]: (r["price"], r["price2"]) for r in t.snapshot().collect()}
    assert got[1] == (10.0, 20.0)  # recomputed from the new price
    assert got[2] == (3.0, 6.0)  # untouched row identical


def test_merge_clauses_identity_guards(spark, tmp_path):
    """Identity tables: `set` may not touch the id; insert values must
    carry the source's id verbatim; supplied ids >= identity.next are
    rejected on ANY merge path (a later append would reallocate them)."""
    base = spark.createDataFrame([(1, 1.0), (2, 2.0)], "k long, v double")
    t = VersionedTable.create(
        spark, tmp_path / "i", base, key_col="k", identity_col="id"
    )
    nxt = t.identity_column()[2]
    src = spark.createDataFrame(
        [(1, t.snapshot().where("k = 1").first()["id"], 9.0)],
        "k long, id long, v double",
    )
    with pytest.raises(ValueError, match="GENERATED ALWAYS"):
        t.merge(src, matched=[("update", None, {"id": "s.id + 10"})])
    with pytest.raises(ValueError, match="identity table"):
        t.merge(
            src,
            not_matched=[("insert", None, {"k": "s.k", "id": "s.id + 100"})],
        )
    # legal partial update on an identity table: no ids needed at all
    t.merge(
        spark.createDataFrame([(1, 7.0)], "k long, nv double"),
        matched=[("update", None, {"v": "s.nv"})],
    )
    assert t.snapshot().where("k = 1").first()["v"] == 7.0
    # supplied id >= next rejected (legacy path too)
    bad = spark.createDataFrame(
        [(99, nxt + 5, 1.0)], "k long, id long, v double"
    )
    with pytest.raises(ValueError, match="identity.next"):
        t.merge(bad)
    with pytest.raises(ValueError, match="identity.next"):
        t.merge(bad, not_matched=[("insert", None, None)])


def test_merge_by_source_clause_list(spark, table):
    """whenNotMatchedBySourceUpdate/Delete as a clause LIST: unmatched
    target rows take the first-TRUE by-source clause (exprs see t.*
    only), none-TRUE rows keep, and the legacy 'delete' string is
    refused when clause lists are in play."""
    src = spark.createDataFrame(
        [(0, 1.0), (1, 2.0), (2, 3.0)], "k long, d double"
    )
    # matched (k 0..2): partial update. Unmatched targets: k<10 flagged
    # STALE (update), k multiple of 7 deleted, others kept.
    table.merge(
        src,
        matched=[("update", None, {"v": "s.d"})],
        not_matched_by_source=[
            ("update", "t.k < 10", {"name": "concat(t.name, '-STALE')"}),
            ("delete", "t.k % 7 = 0"),
        ],
    )
    got = {r["k"]: (r["name"], r["v"]) for r in table.snapshot().collect()}
    assert got[1] == ("name1", 2.0)  # matched partial update
    assert got[3] == ("name3-STALE", 30.0)  # first by-source clause
    # k=7 satisfies BOTH clauses -> FIRST wins (updated, not deleted)
    assert got[7] == ("name7-STALE", 70.0)
    assert 14 not in got  # k>=10 and %7=0 -> second clause deletes
    assert got[11] == ("name11", 110.0)  # no clause TRUE -> kept
    assert len(got) == 19


def test_merge_by_source_clause_order_first_true_wins(spark, table):
    """A row satisfying BOTH by-source clauses takes the FIRST."""
    src = spark.createDataFrame([(100, 1.0)], "k long, d double")
    table.merge(
        src,
        not_matched_by_source=[
            ("update", "t.k % 2 = 0", {"v": "t.v + 0.5"}),
            ("delete", None),  # fallback: odd keys deleted
        ],
    )
    got = {r["k"]: r["v"] for r in table.snapshot().collect()}
    assert got[4] == 40.5  # even: updated by clause 1
    assert 3 not in got  # odd: fallback delete
    assert len(got) == 10  # 10 even keys survive (no inserts: no clause)
    assert 100 not in got  # unmatched SOURCE row: no insert clause


def test_merge_by_source_clause_scope_prunes(spark, table):
    """by_source_scope still scopes the clause list: out-of-scope
    unmatched targets keep unconditionally (and out-of-scope files
    carry over by reference)."""
    src = spark.createDataFrame([(0, 9.0)], "k long, d double")
    v = table.merge(
        src,
        matched=[("update", None, {"v": "s.d"})],
        not_matched_by_source=[("delete", None)],
        by_source_scope={"k": (0, 5)},
    )
    got = sorted(r["k"] for r in table.snapshot().collect())
    assert got == [0] + list(range(6, 20))  # 1..5 deleted, >5 out of scope
    assert table.commit_meta(v)["metrics"]["by_source"] == "clauses"


def test_merge_by_source_clause_validation(spark, table):
    src = spark.createDataFrame([(1, 2.0)], "k long, d double")
    with pytest.raises(ValueError, match="legacy 'delete'"):
        table.merge(
            src,
            matched=[("delete", None)],
            not_matched_by_source="delete",
        )
    with pytest.raises(ValueError, match="non-empty"):
        table.merge(src, not_matched_by_source=[])
    with pytest.raises(ValueError, match="LAST by-source"):
        table.merge(
            src,
            not_matched_by_source=[
                ("delete", None),
                ("update", "t.k > 0", {"v": "t.v"}),
            ],
        )
    with pytest.raises(ValueError, match="non-empty"):
        table.merge(src, not_matched_by_source=[("update", None, None)])
    with pytest.raises(ValueError, match="merge key"):
        table.merge(
            src, not_matched_by_source=[("update", None, {"k": "t.k + 1"})]
        )
    with pytest.raises(ValueError, match="incompatible with op_col"):
        table.merge(
            src.withColumn("_op", F.lit("upsert")),
            op_col="_op",
            not_matched_by_source=[("delete", None)],
        )


def test_widen_column_type_metadata_only(spark, tmp_path):
    """Type widening (Delta 3.2's ALTER COLUMN TYPE): a pure metadata
    commit — old files upcast at scan (int32 bytes read as long), no
    rewrite; time travel below the commit shows the old type; later
    narrow-typed writes upcast automatically; narrowings refused."""
    import database_anonymiser_spark.sources.versioned as V

    base = spark.createDataFrame(
        [(1, 1.5), (2, 2.5), (3, 3.5)], "k int, v float"
    )
    t = VersionedTable.create(spark, tmp_path / "w", base, key_col="k")
    n_files = len(list((tmp_path / "w" / "data").rglob("*.parquet")))

    v1 = t.widen_column("v", "double")
    t.widen_column("k", "long")  # the KEY column widens too
    assert len(list((tmp_path / "w" / "data").rglob("*.parquet"))) == n_files
    snap = t.snapshot()
    assert dict(snap.dtypes) == {"k": "bigint", "v": "double"}
    assert sorted(tuple(r) for r in snap.collect()) == [
        (1, 1.5), (2, 2.5), (3, 3.5),
    ]
    # time travel below the widen shows the narrow type
    assert dict(t.snapshot(v1 - 1).dtypes) == {"k": "int", "v": "float"}
    # the widen commit changes no rows: its content diff is empty
    assert t.diff(v1 - 1, v1).count() == 0

    # a writer still producing the OLD narrow type upcasts automatically
    t.append(spark.createDataFrame([(4, 4.5)], "k int, v float"))
    # and the new wide type appends natively; merge still key-skips
    t.append(spark.createDataFrame([(5, 5.5)], "k long, v double"))
    t.merge(
        spark.createDataFrame([(4, 44.0)], "k long, v double"),
        skip_by="points",
    )
    got = {r["k"]: r["v"] for r in t.snapshot().collect()}
    assert got[4] == 44.0 and got[5] == 5.5 and len(got) == 5
    assert dict(t.snapshot().dtypes) == {"k": "bigint", "v": "double"}

    # checkpoint + replay-cache wipe: the widened schema survives
    V._write_checkpoint(t.root, t.latest_version())
    V._REPLAY_CACHE.clear()
    t2 = VersionedTable(spark, tmp_path / "w")
    assert dict(t2.snapshot().dtypes) == {"k": "bigint", "v": "double"}

    # validation matrix
    with pytest.raises(ValueError, match="no such column"):
        t.widen_column("nope", "long")
    with pytest.raises(ValueError, match="already has type"):
        t.widen_column("v", "double")
    with pytest.raises(ValueError, match="lossless widenings"):
        t.widen_column("k", "int")  # narrowing
    with pytest.raises(ValueError, match="lossless widenings"):
        t.widen_column("k", "double")  # long -> double is lossy
    with pytest.raises(ValueError, match="lossless widenings"):
        t.widen_column("v", "string")  # cross-family


def test_widen_column_composes_with_column_mapping(spark, tmp_path):
    """Widen AFTER a rename: the physical bytes keep the birth name AND
    the narrow type; reads alias physical->logical and upcast in one
    explicit-schema scan."""
    t = VersionedTable.create(
        spark,
        tmp_path / "wm",
        spark.createDataFrame([(1, 10), (2, 20)], "k long, qty int"),
        key_col="k",
    )
    t.rename_column("qty", "quantity")
    t.widen_column("quantity", "long")
    snap = t.snapshot()
    assert dict(snap.dtypes) == {"k": "bigint", "quantity": "bigint"}
    assert sorted(tuple(r) for r in snap.collect()) == [(1, 10), (2, 20)]
    # and a write in the new shape round-trips
    t.append(spark.createDataFrame([(3, 30)], "k long, quantity long"))
    assert t.snapshot().count() == 3


def test_merge_clauses_with_schema_evolution(spark, table):
    """Clause merges compose with merge_schema=True: an additive source
    column lands in the same commit and a set expr can reference it;
    untouched rows NULL-fill; target-only columns keep their values."""
    src = spark.createDataFrame(
        [(1, 5.0, "gold"), (999, 1.0, "new")], "k long, d double, tier string"
    )
    t_v = table.merge(
        src,
        matched=[("update", "s.d > 0", {"v": "t.v + s.d", "tier": "s.tier"})],
        not_matched=[
            ("insert", None, {"k": "s.k", "v": "s.d", "tier": "s.tier"})
        ],
        merge_schema=True,
    )
    snap = table.snapshot()
    assert snap.columns == ["k", "name", "v", "tier"]
    got = {r["k"]: (r["name"], r["v"], r["tier"]) for r in snap.collect()}
    assert got[1] == ("name1", 15.0, "gold")  # name preserved, tier set
    assert got[999] == (None, 1.0, "new")  # values-insert
    assert got[2] == ("name2", 20.0, None)  # untouched: NULL-fill
    # pre-evolution time travel shows the old schema
    assert table.snapshot(t_v - 1).columns == ["k", "name", "v"]


def test_merge_clauses_compose_with_column_mapping(spark, tmp_path):
    """Clause set exprs reference LOGICAL names on a renamed table: the
    joined target aliases physical->logical on read and the rewrite
    renames back at the write chokepoint — zero special-casing."""
    t = VersionedTable.create(
        spark,
        tmp_path / "cm",
        spark.createDataFrame(
            [(1, 10.0), (2, 20.0), (3, 30.0)], "k long, amount double"
        ),
        key_col="k",
    )
    t.rename_column("amount", "balance")
    src = spark.createDataFrame([(1, 5.0), (2, -99.0)], "k long, d double")
    t.merge(
        src,
        matched=[
            ("update", "s.d > 0", {"balance": "t.balance + s.d"}),
            ("delete", None),
        ],
    )
    got = {r["k"]: r["balance"] for r in t.snapshot().collect()}
    assert got == {1: 15.0, 3: 30.0}  # 2 deleted by the fallback clause
    # physical bytes still carry the birth name
    import pyarrow.parquet as pq

    f = next((tmp_path / "cm" / "data").rglob("*.parquet"))
    assert "amount" in pq.read_schema(str(f)).names


def test_merge_occ_rebase_disjoint_winner(spark, table, monkeypatch):
    """MERGE OCC auto-rebase (round 10 — Delta's logical conflict
    detection): a concurrent DATA-ONLY winner whose adds cannot match the
    merge's source keys is rebased across — the same prepared files
    re-commit at the new head with zero re-read/rewrite. Winners that
    touch the merge's read set (key-intersecting adds, removes of
    rewritten files, DDL) re-raise for a true retry."""
    import database_anonymiser_spark.sources.versioned as V

    real_commit = V._commit
    state = {"rival": 0, "mode": "disjoint"}

    def racing_commit(root, version, adds, removes, key_col, op, **kw):
        if op.startswith("merge") and state["rival"] > 0:
            state["rival"] -= 1
            if state["mode"] == "disjoint":
                rival = V._write_data_files(
                    spark.createDataFrame(
                        [(7000 + state["rival"], "rival", 0.0)],
                        "k long, name string, v double",
                    ),
                    root, "k",
                )
                real_commit(root, version, rival, [], "k", op="append")
            elif state["mode"] == "intersecting":
                rival = V._write_data_files(
                    spark.createDataFrame(
                        [(3, "rival", 0.0)], "k long, name string, v double"
                    ),
                    root, "k",
                )
                real_commit(root, version, rival, [], "k", op="append")
            elif state["mode"] == "ddl":
                # schema-carrying rival (content = the unchanged schema,
                # so later merges still read the table; the KEY is the
                # schema field's presence, which must refuse the rebase)
                real_commit(
                    root, version, [], [], "k", op="add_column_marker",
                    schema=table.snapshot().schema.jsonValue(),
                )
        return real_commit(root, version, adds, removes, key_col, op, **kw)

    monkeypatch.setattr(V, "_commit", racing_commit)

    # baseline: an identical-shape merge with NO rival, for the
    # data-read comparison below
    f0 = V.DATA_FILES_READ
    table.merge(
        spark.createDataFrame([(2, "upd2", -2.0)], "k long, name string, v double"),
        skip_by="points",
    )
    solo_reads = V.DATA_FILES_READ - f0

    # disjoint winner (twice): rebase succeeds on the third attempt
    src = spark.createDataFrame(
        [(3, "upd3", -3.0)], "k long, name string, v double"
    )
    base = table.latest_version()
    state.update(rival=2, mode="disjoint")
    f0 = V.DATA_FILES_READ
    v = table.merge(src, skip_by="points")
    assert v == base + 3
    # rebase validation reads tiny commit JSONs only: the conflicted
    # merge's data reads equal the rival-free merge's own join work
    assert V.DATA_FILES_READ - f0 == solo_reads
    got = {r["k"]: r["name"] for r in table.snapshot().collect()}
    assert got[3] == "upd3" and got[7000] == "rival" and got[7001] == "rival"
    # no file double-referenced across the interleaved commits
    all_adds = [a["path"] for rec in table.history() for a in rec["adds"]]
    assert len(all_adds) == len(set(all_adds))

    # key-INTERSECTING winner: the merge would have missed its row — no
    # rebase, the conflict surfaces
    state.update(rival=1, mode="intersecting")
    with pytest.raises(V.VersionConflict):
        table.merge(
            spark.createDataFrame(
                [(3, "again", 1.0)], "k long, name string, v double"
            ),
            skip_by="points",
        )

    # DDL winner: never rebased
    state.update(rival=1, mode="ddl")
    with pytest.raises(V.VersionConflict):
        table.merge(
            spark.createDataFrame(
                [(5, "x", 1.0)], "k long, name string, v double"
            ),
            skip_by="points",
        )
    # and max_retries=0 surfaces the conflict immediately
    state.update(rival=1, mode="disjoint")
    with pytest.raises(V.VersionConflict):
        table.merge(
            spark.createDataFrame(
                [(5, "x", 1.0)], "k long, name string, v double"
            ),
            skip_by="points",
            max_retries=0,
        )


def test_merge_clauses_randomized_python_twin(spark, tmp_path):
    """Seeded randomized CONDITIONAL-CLAUSE merges against a pure-Python
    twin implementing the Delta row fates: per matched pair the FIRST
    true clause (update-with-set / delete) else keep; per unmatched
    source row the first true insert clause else drop; per unmatched
    target row the first true by-source clause else keep. Five seeded
    rounds over one table, snapshot compared after each commit."""
    import random

    rng = random.Random(20251015)
    rows = {k: (k, float(k % 7), k % 3) for k in range(40)}  # k, v, g
    t = VersionedTable.create(
        spark,
        tmp_path / "tw",
        spark.createDataFrame(list(rows.values()), "k long, v double, g long"),
        key_col="k",
    )
    for rnd in range(5):
        # source: a random half of live keys + some fresh keys, with d
        live = sorted(rows)
        src_keys = sorted(rng.sample(live, len(live) // 2)) + [
            1000 + rnd * 10 + i for i in range(3)
        ]
        src_rows = [(k, float(rng.randrange(-5, 6))) for k in src_keys]
        thr_u = rng.randrange(-4, 5)
        thr_d = rng.randrange(-4, 5)
        thr_i = rng.randrange(-4, 5)
        thr_b = rng.randrange(0, 3)
        src = spark.createDataFrame(src_rows, "k long, d double")
        t.merge(
            src,
            matched=[
                ("update", f"s.d > {thr_u}", {"v": "t.v + s.d"}),
                ("delete", f"s.d < {thr_d}"),
            ],
            not_matched=[
                ("insert", f"s.d > {thr_i}", {"k": "s.k", "v": "s.d", "g": "9"})
            ],
            not_matched_by_source=[
                ("update", f"t.g = {thr_b}", {"v": "t.v + 100"}),
            ],
            skip_by="points",
        )
        # the twin
        src_map = dict(src_rows)
        new_rows = {}
        for k, (kk, v, g) in rows.items():
            if k in src_map:
                d = src_map[k]
                if d > thr_u:
                    new_rows[k] = (kk, v + d, g)
                elif d < thr_d:
                    pass  # deleted
                else:
                    new_rows[k] = (kk, v, g)
            else:  # not matched by source
                if g == thr_b:
                    new_rows[k] = (kk, v + 100, g)
                else:
                    new_rows[k] = (kk, v, g)
        for k, d in src_map.items():
            if k not in rows and d > thr_i:
                new_rows[k] = (k, d, 9)
        rows = new_rows
        got = sorted(tuple(r) for r in t.snapshot().collect())
        want = sorted(rows.values())
        assert got == want, f"round {rnd}: {got} != {want}"


def test_maintenance_commits_carry_free_operation_metrics(spark, tmp_path):
    """Round 11 (Delta operationMetrics parity): update_where /
    delete_where / compact / optimize_zorder record their file scope —
    and delete_where its rows_deleted, pure footer-count arithmetic —
    in the commit metadata slot; every number was already known to the
    write (zero extra jobs)."""
    t = VersionedTable.create(
        spark,
        tmp_path / "t",
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(1, 41)], "k long, name string"
        ).repartitionByRange(4, "k"),
        key_col="k",
    )
    v = t.update_where(
        {"name": "upper(name)"}, "k <= 10", prune={"k": (1, 10)}
    )
    m = t.commit_meta(v)["metrics"]
    assert m["files_touched"] == 1 and m["files_carried"] == 3
    assert m["files_written"] >= 1

    v = t.delete_where("k between 11 and 15", prune={"k": (11, 15)})
    m = t.commit_meta(v)["metrics"]
    assert m["rows_deleted"] == 5 and m["files_touched"] == 1

    v = t.compact(target_file_bytes=1 << 20)
    m = t.commit_meta(v)["metrics"]
    assert m["files_compacted"] >= 2 and m["files_written"] >= 1

    v = t.optimize_zorder(("k",), file_count=2)
    m = t.commit_meta(v)["metrics"]
    assert m["files_reclustered"] >= 1 and m["files_written"] >= 1

    # DV delete still reports rows_marked (existing slot)
    v = t.delete_where("k = 20", prune={"k": (20, 20)}, dv=True)
    assert t.commit_meta(v)["rows_marked"] == 1
