"""format("versioned") — the Spark Python DataSource face (round 9).

Batch snapshots and streaming follows of a versioned table through
Spark's own source API: Delta streaming-source semantics (appends
stream; row-preserving housekeeping skipped; rewrite commits refuse
unless skipChangeCommits), pure-pyarrow partition reads, column-mapping
aware.
"""

from __future__ import annotations

import json
import os

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


def _drain(spark, root, out_dir, ck, **opts):
    reader = spark.readStream.format("versioned").option("path", str(root))
    for k, v in opts.items():
        reader = reader.option(k, v)
    q = (
        reader.load()
        .writeStream.format("parquet")
        .option("path", str(out_dir))
        .option("checkpointLocation", str(ck))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)


def test_versioned_datasource_batch_and_stream(registered, tmp_path):
    spark = registered
    root = tmp_path / "t"
    df = spark.createDataFrame(
        [(i, f"n{i}", float(i)) for i in range(100)],
        "k long, name string, v double",
    )
    t = VersionedTable.create(spark, root, df, key_col="k")
    # column mapping must be transparent to the source
    t.rename_column("v", "score")
    t.append(
        spark.createDataFrame([(200, "x", 1.5)], "k long, name string, score double")
    )

    # batch face: snapshot parity under the logical (renamed) schema
    got = spark.read.format("versioned").option("path", str(root)).load()
    assert [f.name for f in got.schema.fields] == ["k", "name", "score"]
    assert got.count() == 101
    assert got.where("score = 1.5").first()["k"] == 200
    assert got.where("score = 42.0").first()["name"] == "n42"

    # streaming face: initial drain delivers the full history
    out_dir, ck = tmp_path / "out", tmp_path / "ck"
    _drain(spark, root, out_dir, ck)
    assert spark.read.parquet(str(out_dir)).count() == 101

    # append streams; compaction (row-preserving) must NOT re-deliver
    t.append(
        spark.createDataFrame([(300, "y", 2.5)], "k long, name string, score double")
    )
    t.compact()
    _drain(spark, root, out_dir, ck)
    assert spark.read.parquet(str(out_dir)).count() == 102

    # rewrite commit: refuse by default (Delta streaming-source contract)
    t.merge(
        spark.createDataFrame([(1, "UPD", 0.25)], "k long, name string, score double"),
        when_matched="update",
    )
    with pytest.raises(Exception, match="APPENDS|skipChangeCommits"):
        _drain(spark, root, out_dir, ck)
    # ...and skip it whole when asked
    _drain(spark, root, out_dir, ck, skipChangeCommits="true")
    assert spark.read.parquet(str(out_dir)).count() == 102

    # startingVersion: a fresh follow from the head sees only the future
    t.append(
        spark.createDataFrame([(400, "z", 3.5)], "k long, name string, score double")
    )
    out2, ck2 = tmp_path / "out2", tmp_path / "ck2"
    _drain(
        spark, root, out2, ck2, startingVersion=str(t.latest_version())
    )
    assert [r["k"] for r in spark.read.parquet(str(out2)).collect()] == [400]


def test_versioned_datasource_schema_evolution_null_fill(registered, tmp_path):
    """Files written before an additive evolution NULL-fill through the
    pure-arrow partition reader (dataset projection), exactly like the
    native snapshot path."""
    spark = registered
    root = tmp_path / "e"
    t = VersionedTable.create(
        spark,
        root,
        spark.createDataFrame([(1, "a")], "k long, name string"),
        key_col="k",
    )
    t.append(
        spark.createDataFrame([(2, "b", 9)], "k long, name string, extra long"),
        merge_schema=True,
    )
    got = spark.read.format("versioned").option("path", str(root)).load()
    rows = {r["k"]: r["extra"] for r in got.collect()}
    assert rows == {1: None, 2: 9}


def test_versioned_datasource_reads_honor_deletion_vectors(
    registered, tmp_path, monkeypatch
):
    """A snapshot through format("versioned") must drop DV-marked rows —
    the executor-side pyarrow reader applies the sidecar mask before any
    batch leaves the partition (a DV'd row must never resurrect through
    ANY read face). A delete_dv commit is a rewrite commit to the
    STREAMING face: refuse by default, skip whole under
    skipChangeCommits (re-delivering its re-referenced files would
    duplicate the survivors)."""
    spark = registered
    root = tmp_path / "dv"
    t = VersionedTable.create(
        spark,
        root,
        spark.createDataFrame(
            [(i, f"n{i}") for i in range(40)], "k long, name string"
        ),
        key_col="k",
    )
    out_dir, ck = tmp_path / "out", tmp_path / "ck"
    _drain(spark, root, out_dir, ck)
    assert spark.read.parquet(str(out_dir)).count() == 40

    # 4 of 40 rows: a share that lets the cost rule mark them
    monkeypatch.setattr(V, "DV_MAX_SHARE", 0.25)
    v = t.delete_where("k % 10 = 3")
    assert t.commit_op(v) == "delete_dv"
    got = spark.read.format("versioned").option("path", str(root)).load()
    assert got.count() == 36
    assert sorted(r["k"] for r in got.where("k < 10").collect()) == [
        0, 1, 2, 4, 5, 6, 7, 8, 9,
    ]
    with pytest.raises(Exception, match="APPENDS|skipChangeCommits"):
        _drain(spark, root, out_dir, ck)
    _drain(spark, root, out_dir, ck, skipChangeCommits="true")
    assert spark.read.parquet(str(out_dir)).count() == 40  # nothing re-sent


def test_snapshot_read_packs_small_files_into_one_task(
    registered, tmp_path, monkeypatch
):
    """A snapshot read hands Spark one partition (one Python task) per
    run of consecutive live files up to ``_PACK_BYTES``: the small files
    DV updates and merges add between compactions share a task, and a
    file past the bound reads alone. The rows are the same either way."""
    import database_anonymiser_spark.sources.spark_datasource as DS

    spark = registered
    root = tmp_path / "p"
    t = VersionedTable.create(
        spark, root,
        spark.createDataFrame(
            [(i, f"n{i}") for i in range(50)], "k long, name string"
        ).coalesce(1),
        key_col="k",
    )
    for lo in (50, 100, 150):
        t.append(spark.createDataFrame(
            [(i, f"n{i}") for i in range(lo, lo + 50)], "k long, name string"
        ).coalesce(1))
    t.update_where({"name": F.lit("u")}, "k = 7")  # a DV and one more file
    files = t._live_entries()
    assert len(files) == 5 and any(e.get("dv") for e in files)

    parts = DS._SnapshotReader(str(root)).partitions()
    assert [len(p.files) for p in parts] == [5]
    want = sorted((i, "u" if i == 7 else f"n{i}") for i in range(200))
    got = spark.read.format("versioned").option("path", str(root)).load()
    assert got.rdd.getNumPartitions() == 1
    assert sorted(tuple(r) for r in got.collect()) == want

    monkeypatch.setattr(DS, "_PACK_BYTES", min(e["size"] for e in files))
    parts = DS._SnapshotReader(str(root)).partitions()
    assert [len(p.files) for p in parts] == [1] * 5
    assert sorted(
        (r["k"], r["name"]) for p in parts
        for b in DS._SnapshotReader(str(root)).read(p)
        for r in b.to_pylist()
    ) == want


def test_stream_writer_epoch_replay_survives_housekeeping(registered, tmp_path):
    """The stream writer's exactly-once check scans past housekeeping
    commits interleaved between a sink commit and the crash-replay of
    the same epoch (a compact landing in between must not defeat the
    dedup)."""
    from database_anonymiser_spark.sources.spark_datasource import (
        _VersionedStreamWriter,
    )

    spark = registered
    root = tmp_path / "w"
    t = VersionedTable.create(
        spark,
        root,
        spark.createDataFrame([(i, "a") for i in range(20)], "k long, v string"),
        key_col="k",
    )
    t.append(spark.createDataFrame([(100, "b")], "k long, v string"))
    w = _VersionedStreamWriter(str(root), "k", (), {})
    w.commit([], batchId=7)
    v_after_epoch = t.latest_version()
    assert t.commit_op(v_after_epoch) == "stream_append"
    t.compact()  # housekeeping lands between commit and replay
    w.commit([], batchId=7)  # crash-replay of the same epoch
    # replay skipped: no new stream_append past the compact
    assert t.commit_op(t.latest_version()) == "compact"
    w.commit([], batchId=8)  # the NEXT epoch still commits
    assert t.commit_op(t.latest_version()) == "stream_append"


def test_sql_face_pinned_snapshot_views(registered, tmp_path):
    """register_sql_views: the whole spark.sql surface (filters, joins)
    over versioned tables, with PINNED-snapshot semantics — appends
    after registration stay invisible until a re-register (repeatable
    reads; also the only sound shape on Spark 4.1, which hands a
    catalog table's Python scan an empty options dict). A file: URI
    path normalizes through load() too."""
    from database_anonymiser_spark.sources.spark_datasource import (
        register_sql_views,
    )

    spark = registered
    root = tmp_path / "sqlt"
    t = VersionedTable.create(
        spark,
        root,
        spark.createDataFrame([(1, "x"), (2, "y")], "k long, v string"),
        key_col="k",
    )
    register_sql_views(spark, {"docs_sql": root})
    assert spark.sql("SELECT v FROM docs_sql WHERE k = 2").first()["v"] == "y"
    joined = spark.sql(
        "SELECT a.k, b.v FROM docs_sql a JOIN docs_sql b ON a.k = b.k "
        "WHERE a.k = 1"
    )
    assert joined.first()["v"] == "x"
    # pinned: a later append is invisible until re-registration
    t.append(spark.createDataFrame([(3, "z")], "k long, v string"))
    assert spark.sql("SELECT count(*) AS c FROM docs_sql").first()["c"] == 2
    register_sql_views(spark, {"docs_sql": root})
    assert spark.sql("SELECT count(*) AS c FROM docs_sql").first()["c"] == 3
    # file: URI path accepted (the normalization the SQL path needs)
    got = (
        spark.read.format("versioned")
        .option("path", f"file:{root}").load()
    )
    assert got.count() == 3
    spark.catalog.dropTempView("docs_sql")


def test_pushdown_reader_prunes_files_by_stats_and_bloom(registered, tmp_path):
    """option("pushdown","true"): equality/range/IN filters prune the
    partition list with the SAME stats+bloom arithmetic as the native
    files_matching/files_matching_any path, and Spark still re-applies
    every filter row-level (results identical to the unpruned read)."""
    from pyspark.sql.datasource import EqualTo, GreaterThan, In

    from database_anonymiser_spark.sources.spark_datasource import (
        _PushdownSnapshotReader,
        _SnapshotReader,
    )

    spark = registered
    root = tmp_path / "p"
    t = VersionedTable.create(
        spark,
        root,
        spark.createDataFrame(
            [(i, f"d{i % 17}", float(i)) for i in range(2000)],
            "k long, dom string, v double",
        ),
        key_col="k",
    )
    t.optimize_zorder(("k",), file_count=8)  # key-clustered: stats prune
    t.analyze(bloom_cols=("dom",))  # unclustered column: bloom prunes

    total = len(t._live_entries())
    assert total >= 8

    # unit face: the pruned partition list matches the native matcher
    r = _PushdownSnapshotReader(str(root))
    kept = r.pushFilters([EqualTo(("k",), 42)])
    assert list(kept) == [EqualTo(("k",), 42)]  # all returned to Spark
    assert len(_scanned(r)) == len(t.files_matching_any("k", [42]))
    assert len(_scanned(r)) < total

    r2 = _PushdownSnapshotReader(str(root))
    r2.pushFilters([GreaterThan(("k",), 1750)])
    assert len(_scanned(r2)) == len(t.files_matching({"k": (1751, 2**62)}))
    assert len(_scanned(r2)) < total

    r3 = _PushdownSnapshotReader(str(root))
    r3.pushFilters([In(("dom",), ("d3", "d5"))])
    assert len(_scanned(r3)) == len(t.files_matching_any("dom", ["d3", "d5"]))

    # base reader never defines pushFilters (worker refuses it when the
    # session conf is off — the reason pushdown is an opt-in subclass)
    assert "pushFilters" not in _SnapshotReader.__dict__

    # scan face: the surviving files' pyarrow scans ALSO evaluate the
    # predicates (row-group pruning + pre-hand-off filtering) — the rows
    # leaving the executors are a tight superset of the exact answer
    # (range pushdown widens > to >=), not whole files
    from database_anonymiser_spark.sources.spark_datasource import (
        _read_file_aligned,
    )

    scanned = [
        b.num_rows for p in _scanned(r2) for b in _read_file_aligned(p)
    ]
    assert sum(scanned) == 250  # k >= 1750, not the ~2000-row file set
    scanned_in = [
        b.num_rows for p in _scanned(r3) for b in _read_file_aligned(p)
    ]
    assert sum(scanned_in) == sum(1 for i in range(2000) if i % 17 in (3, 5))

    # e2e face: enabled pushdown returns exactly the unpruned answers
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    try:
        pushed = (
            spark.read.format("versioned")
            .option("path", str(root)).option("pushdown", "true").load()
        )
        assert [r["v"] for r in pushed.where("k = 42").collect()] == [42.0]
        assert pushed.where("k > 1750").count() == 249
        assert pushed.where("dom in ('d3','d5')").count() == sum(
            1 for i in range(2000) if i % 17 in (3, 5)
        )
        assert pushed.where("v = 7.0").first()["k"] == 7  # no-stats col: kept

        # deletion vectors: positional masks apply BEFORE the scan
        # filter — a DV'd row must not resurrect through the filtered
        # scan, and survivors stay exact
        t.delete_where("k % 500 = 499")
        pushed2 = (
            spark.read.format("versioned")
            .option("path", str(root)).option("pushdown", "true").load()
        )
        assert pushed2.where("k > 1750").count() == 248  # 1999 DV'd
        assert pushed2.where("k = 999").count() == 0
        assert pushed2.where("k = 42").first()["v"] == 42.0
    finally:
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "false")


def test_stream_reader_starting_timestamp_complements_as_of(registered, tmp_path):
    """startingTimestamp streams exactly the commits AFTER the
    TIMESTAMP AS OF snapshot at that timestamp — bootstrap + follow
    composes gap-free and overlap-free. A pre-history timestamp streams
    everything."""
    from database_anonymiser_spark.sources.spark_datasource import (
        _ChangesStreamReader,
    )

    spark = registered
    root = tmp_path / "ts"
    mk = lambda i: spark.createDataFrame([(i, "x")], "k long, v string").coalesce(1)
    t = VersionedTable.create(spark, root, mk(0), key_col="k")
    t.append(mk(1))
    ts_mid = json.loads(
        (root / "_log" / f"{t.latest_version():08d}.json").read_text()
    )["ts"]
    t.append(mk(2))
    t.append(mk(3))

    r = _ChangesStreamReader(str(root), {"startingtimestamp": ts_mid})
    # as-of snapshot at ts_mid = version 1 → stream starts at version 2
    assert r.initialOffset() == {"version": t.version_at(ts_mid)}
    parts = r.partitions(r.initialOffset(), r.latestOffset())
    assert len([p for p in parts if p]) == 2  # versions 2 and 3 only

    r0 = _ChangesStreamReader(
        str(root), {"startingtimestamp": "1970-01-01T00:00:00+00:00"}
    )
    assert r0.initialOffset() == {"version": -1}  # full history


def test_stream_reader_max_files_per_trigger_bounds_batches(registered, tmp_path):
    """maxFilesPerTrigger: latestOffset advances commit-by-commit from
    the planning cursor, admitting at most N added files per batch
    (always ≥1 commit so the stream cannot stall); housekeeping commits
    ride along for free."""
    from database_anonymiser_spark.sources.spark_datasource import (
        _ChangesStreamReader,
    )

    spark = registered
    root = tmp_path / "rl"
    mk = lambda i: spark.createDataFrame([(i, "x")], "k long, v string").coalesce(1)
    t = VersionedTable.create(spark, root, mk(0), key_col="k")
    for i in range(1, 5):
        t.append(mk(i))  # versions 1..4, one file each
    head = t.latest_version()

    r = _ChangesStreamReader(str(root), {"maxfilespertrigger": "2"})
    start = r.initialOffset()
    offsets = []
    while True:
        end = r.latestOffset()
        if end["version"] == start["version"]:
            break
        parts = r.partitions(start, end)
        offsets.append((end["version"], len([p for p in parts if p])))
        start = end
    # 2 files per batch: (v0,v1) then (v2,v3) then (v4)
    assert [n for _, n in offsets] == [2, 2, 1]
    assert offsets[-1][0] == head

    # unlimited reader drains in one batch (control)
    r0 = _ChangesStreamReader(str(root), {})
    assert r0.latestOffset()["version"] == head


def test_versioned_datasource_writer_batch_and_stream(registered, tmp_path):
    """The WRITER faces (round 9): executors write parquet under data/
    with pure pyarrow (invisible until referenced), the driver commits
    one atomic log version per save/epoch. Batch append round-trips
    (with column mapping + maintained stats/bloom); the streaming writer
    is exactly-once per epoch and composes with the streaming READER
    into a versioned-to-versioned pipe."""
    spark = registered
    src_root = tmp_path / "src"
    t = VersionedTable.create(
        spark,
        src_root,
        spark.createDataFrame(
            [(i, f"n{i}", float(i)) for i in range(50)],
            "k long, name string, v double",
        ),
        key_col="k",
    )
    t.rename_column("v", "score")
    t.optimize_zorder(("k",), file_count=2)

    # batch writer: append through spark.write
    extra = spark.createDataFrame(
        [(100 + i, "w", 0.5 + i) for i in range(5)],
        "k long, name string, score double",
    )
    extra.write.format("versioned").option("path", str(src_root)).mode(
        "append"
    ).save()
    assert t.snapshot().count() == 55
    assert t.snapshot().where("score = 2.5").first()["k"] == 102
    assert t.commit_op(t.latest_version()) == "append"
    # physical bytes carry the PRE-rename name; stats maintained
    newest = [e for e in t._live_entries() if e.get("key_min") is not None]
    assert newest  # key stats recorded by the executor-side writer
    assert t.row_count() == 55  # num_rows recorded → log-only COUNT(*)

    # schema/constraint refusals
    with pytest.raises(Exception, match="schema mismatch"):
        spark.createDataFrame([(1, "x")], "k long, name string").write.format(
            "versioned"
        ).option("path", str(src_root)).mode("append").save()
    with pytest.raises(Exception, match="overwrite"):
        extra.write.format("versioned").option("path", str(src_root)).mode(
            "overwrite"
        ).save()

    # streaming writer: versioned -> versioned pipe via the DataSource
    dst_root = tmp_path / "dst"
    VersionedTable.create(
        spark,
        dst_root,
        t.snapshot().limit(0),
        key_col="k",
    )
    ck = tmp_path / "ck"
    q = (
        spark.readStream.format("versioned").option("path", str(src_root)).load()
        .writeStream.format("versioned")
        .option("path", str(dst_root))
        .option("checkpointLocation", str(ck))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    dst = VersionedTable(spark, dst_root)
    assert dst.snapshot().count() == 55
    assert dst.commit_op(dst.latest_version()) == "stream_append"
    # drain again with no new source commits: no duplicate rows
    q = (
        spark.readStream.format("versioned").option("path", str(src_root)).load()
        .writeStream.format("versioned")
        .option("path", str(dst_root))
        .option("checkpointLocation", str(ck))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert dst.snapshot().count() == 55
    # source appends flow through on the next drain
    t.append(
        spark.createDataFrame([(999, "z", 9.5)], "k long, name string, score double")
    )
    q = (
        spark.readStream.format("versioned").option("path", str(src_root)).load()
        .writeStream.format("versioned")
        .option("path", str(dst_root))
        .option("checkpointLocation", str(ck))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert dst.snapshot().count() == 56
    assert dst.snapshot().where("k = 999").first()["score"] == 9.5


def test_stream_read_change_feed_full_lifecycle(registered, tmp_path, monkeypatch):
    """readChangeFeed=true — the Delta streaming-CDF face: every commit's
    row-level change events, tagged _change_type / _commit_version /
    _commit_timestamp, exactly matching the native batch diff
    (images='both') per commit. Covers create-append inserts, a MERGE
    (update + insert in one commit), a DV delete (file identity =
    (path, dv)), an UPDATE rewrite, a compaction (row-preserving —
    delivers nothing), and exactly-once incremental delivery across a
    second drain."""
    spark = registered
    root = tmp_path / "cdf"
    t = VersionedTable.create(
        spark,
        root,
        spark.createDataFrame(
            [(i, f"n{i}", float(i)) for i in range(6)],
            "k long, name string, v double",
        ),
        key_col="k",
    )
    t.merge(
        spark.createDataFrame(
            [(1, "UPD", 0.25), (100, "new", 9.0)],
            "k long, name string, v double",
        ),
        when_matched="update",
    )
    # 1 of 7 rows: a share that lets the cost rule mark it
    monkeypatch.setattr(V, "DV_MAX_SHARE", 0.25)
    t.delete_where("k = 2")
    t.update_where({"name": "upper(name)"}, "k = 3")
    t.compact(target_file_bytes=1 << 20)
    t.append(
        spark.createDataFrame([(200, "tail", 7.5)], "k long, name string, v double")
    )

    out_dir, ck = tmp_path / "out", tmp_path / "ck"
    _drain(spark, root, out_dir, ck, readChangeFeed="true")
    got = spark.read.parquet(str(out_dir))
    assert [f.name for f in got.schema.fields] == [
        "k", "name", "v", "_change_type", "_commit_version", "_commit_timestamp",
    ]
    # every delivered change row carries its commit's wall-clock ts
    assert got.where("_commit_timestamp is null").count() == 0

    data_cols = ["k", "name", "v"]

    def _by_commit(df):
        out = {}
        for r in df.collect():
            out.setdefault(r["_commit_version"], set()).add(
                (r["_change_type"],) + tuple(r[c] for c in data_cols)
            )
        return out

    def _expected(v):
        return {
            (r["_change_type"],) + tuple(r[c] for c in data_cols)
            for r in t.diff(v - 1, v, images="both").collect()
        }

    seen = _by_commit(got)
    # the compaction commit must not appear at all
    compacted = [v for v in t.versions() if t.commit_op(v) == "compact"]
    assert compacted and all(v not in seen for v in compacted)
    # each delivered commit matches the native per-commit diff exactly
    row_changing = [
        v for v in t.versions()
        if t.commit_op(v) not in ("compact", "optimize_zorder", "analyze")
    ]
    assert sorted(seen) == row_changing
    for v in row_changing:
        assert seen[v] == _expected(v), f"commit {v} mismatch"
    # spot-check semantics: the merge commit carries pre+post images
    merge_v = [v for v in t.versions() if t.commit_op(v).startswith("merge")][0]
    types = {c for (c, *_r) in seen[merge_v]}
    assert types == {"insert", "update_preimage", "update_postimage"}
    dv_v = [v for v in t.versions() if t.commit_op(v) == "delete_dv"][0]
    assert seen[dv_v] == {("delete", 2, "n2", 2.0)}

    # incremental: a later rewrite delete arrives alone on the next drain
    t.delete_where("k = 4")
    _drain(spark, root, out_dir, ck, readChangeFeed="true")
    seen2 = _by_commit(spark.read.parquet(str(out_dir)))
    new_v = t.latest_version()
    assert seen2[new_v] == {("delete", 4, "n4", 4.0)}
    for v in row_changing:  # nothing re-delivered
        assert seen2[v] == seen[v]

    # batch face: the SAME feed through spark.read (Delta's batch CDF) —
    # full range equals the streamed events, a bounded range slices it
    batch_all = (
        spark.read.format("versioned").option("path", str(root))
        .option("readChangeFeed", "true").load()
    )
    assert _by_commit(batch_all) == seen2
    sliced = (
        spark.read.format("versioned").option("path", str(root))
        .option("readChangeFeed", "true")
        .option("startingVersion", str(merge_v))
        .option("endingVersion", str(dv_v)).load()
    )
    assert sorted(_by_commit(sliced)) == [merge_v, dv_v]
    assert _by_commit(sliced)[dv_v] == {("delete", 2, "n2", 2.0)}
    with pytest.raises(Exception, match="beyond the head"):
        spark.read.format("versioned").option("path", str(root)).option(
            "readChangeFeed", "true"
        ).option("endingVersion", "999").load().count()


def test_stream_schema_evolution_contract(registered, tmp_path):
    """The Delta schema contract on the streaming source: the stream's
    logical view is FIXED at query start; a same-schema commit after
    start plans fine, an evolution commit after start fails the planner
    with a restart instruction, and a fresh stream started after the
    evolution reads the whole history under the NEW schema with
    pre-evolution files typed-NULL-filled."""
    from database_anonymiser_spark.sources.spark_datasource import (
        _ChangesStreamReader,
    )

    spark = registered
    root = tmp_path / "evo"
    t = VersionedTable.create(
        spark,
        root,
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, s string"),
        key_col="k",
    )

    # reader constructed now: its view is the v0 schema
    rdr = _ChangesStreamReader(str(root), {})
    start = rdr.initialOffset()

    # same-schema append after start: plans fine (no false positive)
    t.append(spark.createDataFrame([(3, "c")], "k long, s string"))
    parts = rdr.partitions(start, rdr.latestOffset())
    assert sum(p is not None for p in parts) >= 1

    # additive evolution after start: the planner fails with the contract
    t.append(
        spark.createDataFrame([(4, "d", 1.5)], "k long, s string, extra double"),
        merge_schema=True,
    )
    with pytest.raises(RuntimeError, match="RESTART the streaming query"):
        rdr.partitions(rdr.initialOffset(), rdr.latestOffset())

    # restart (fresh reader = new query): full history under the NEW
    # schema, pre-evolution rows NULL-filled in the added column
    out, ck = tmp_path / "out", tmp_path / "ck"
    _drain(spark, root, out, ck)
    got = spark.read.parquet(str(out))
    assert [f.name for f in got.schema.fields] == ["k", "s", "extra"]
    rows = {r["k"]: (r["s"], r["extra"]) for r in got.collect()}
    assert rows == {1: ("a", None), 2: ("b", None), 3: ("c", None), 4: ("d", 1.5)}

    # and a rename through column mapping is likewise a view change
    rdr2 = _ChangesStreamReader(str(root), {})
    start2 = rdr2.initialOffset()
    t.rename_column("s", "label")
    t.append(
        spark.createDataFrame([(5, "e", 2.5)], "k long, label string, extra double")
    )
    with pytest.raises(RuntimeError, match="RESTART the streaming query"):
        rdr2.partitions(start2, rdr2.latestOffset())


def test_stream_replicate_mirrors_source(registered, tmp_path):
    """run_stream_replicate: the CDF→replica composition. After every
    drain the replica's snapshot equals the source's snapshot at the
    drained offset — across merges, DV deletes, rewrites, compactions
    (delivered as nothing), and appends; a wiped checkpoint re-applies
    the whole collapsed history idempotently to the same state; each
    drain lands as ONE apply_changes commit on the replica."""
    from database_anonymiser_spark.streaming.pipeline import run_stream_replicate

    spark = registered
    src_root, dst_root = tmp_path / "src", tmp_path / "dst"
    ck = tmp_path / "ck"
    t = VersionedTable.create(
        spark,
        src_root,
        spark.createDataFrame(
            [(i, f"n{i}", float(i)) for i in range(30)],
            "k long, name string, v double",
        ),
        key_col="k",
    )
    t.merge(
        spark.createDataFrame(
            [(7, "UPD", 0.7), (100, "new", 10.0)], "k long, name string, v double"
        ),
        when_matched="update",
    )
    t.delete_where("k % 9 = 4")
    t.update_where({"name": "upper(name)"}, "k = 2")
    t.compact(target_file_bytes=1 << 20)

    def _rows(df):
        return sorted(tuple(r) for r in df.collect())

    run_stream_replicate(spark, str(src_root), str(dst_root), str(ck))
    dst = VersionedTable(spark, dst_root)
    assert _rows(dst.snapshot()) == _rows(t.snapshot())
    # bootstrap + one collapsed batch: create + 1 apply_changes commit
    assert dst.latest_version() == 1
    assert dst.commit_op(1) == "apply_changes"

    # incremental: more churn, second drain converges with ONE commit
    t.append(
        spark.createDataFrame([(200, "tail", 20.0)], "k long, name string, v double")
    )
    t.delete_where("k = 7")
    run_stream_replicate(spark, str(src_root), str(dst_root), str(ck))
    assert _rows(dst.snapshot()) == _rows(t.snapshot())
    assert dst.latest_version() == 2

    # wiped checkpoint: the full history re-applies idempotently
    import shutil

    shutil.rmtree(ck)
    run_stream_replicate(spark, str(src_root), str(dst_root), str(ck))
    assert _rows(dst.snapshot()) == _rows(t.snapshot())

    # replayed-epoch witness: re-draining with the SAME checkpoint and no
    # new source commits leaves the replica's version untouched
    v = dst.latest_version()
    run_stream_replicate(spark, str(src_root), str(dst_root), str(ck))
    assert dst.latest_version() == v


def test_batch_time_travel_options(registered, tmp_path):
    """versionAsOf / timestampAsOf on the batch face — Delta's time-travel
    read options: the snapshot (rows AND schema) is pinned to the
    resolved version; both set at once is an error; timestampAsOf
    resolves through the same clamp-correct version_at as the native
    TIMESTAMP AS OF."""
    spark = registered
    root = tmp_path / "tt"
    t = VersionedTable.create(
        spark,
        root,
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, s string"),
        key_col="k",
    )
    t.delete_where("k = 2")
    ts_v1 = json.loads((root / "_log" / "00000001.json").read_text())["ts"]
    t.append(
        spark.createDataFrame([(3, "c", 1.5)], "k long, s string, extra double"),
        merge_schema=True,
    )

    def _read(**opts):
        r = spark.read.format("versioned").option("path", str(root))
        for k, v in opts.items():
            r = r.option(k, v)
        return r.load()

    assert {r["k"] for r in _read(versionAsOf="0").collect()} == {1, 2}
    v1 = _read(versionAsOf="1")
    assert [f.name for f in v1.schema.fields] == ["k", "s"]  # pre-evolution
    assert {r["k"] for r in v1.collect()} == {1}
    head = _read()
    assert head.count() == 2 and "extra" in head.columns
    assert {r["k"] for r in _read(timestampAsOf=str(ts_v1)).collect()} == {1}
    with pytest.raises(Exception, match="not both"):
        _read(versionAsOf="1", timestampAsOf=str(ts_v1)).count()
    with pytest.raises(Exception, match="does not exist"):
        _read(versionAsOf="9").count()


def test_stream_replicate_selection_projection_view(registered, tmp_path):
    """where=/select= on run_stream_replicate maintain a row-level
    incremental SELECT/WHERE view: rows entering the predicate insert,
    rows LEAVING it (post-image fails) delete downstream, unchanged
    rows never move; after every drain the view equals the from-scratch
    filtered projection of the source snapshot."""
    from database_anonymiser_spark.streaming.pipeline import run_stream_replicate

    spark = registered
    src_root, dst_root, ck = tmp_path / "src", tmp_path / "view", tmp_path / "ck"
    t = VersionedTable.create(
        spark,
        src_root,
        spark.createDataFrame(
            [(i, f"n{i}", float(i)) for i in range(20)],
            "k long, name string, v double",
        ),
        key_col="k",
    )

    def _expected():
        return sorted(
            (r["k"], r["v"])
            for r in t.snapshot().where("v >= 10.0").select("k", "v").collect()
        )

    def _actual():
        return sorted(
            (r["k"], r["v"])
            for r in VersionedTable(spark, dst_root).snapshot().collect()
        )

    kw = dict(where="v >= 10.0", select=("k", "v"))
    run_stream_replicate(spark, str(src_root), str(dst_root), str(ck), **kw)
    assert VersionedTable(spark, dst_root).snapshot().columns == ["k", "v"]
    assert _actual() == _expected()  # 10..19

    # churn across the predicate boundary: k=3 enters, k=15 leaves,
    # k=12 updates within, k=18 deleted at the source, k=100 enters new
    t.merge(
        spark.createDataFrame(
            [(3, "up", 50.0), (15, "down", 1.0), (12, "in", 12.5),
             (100, "new", 99.0)],
            "k long, name string, v double",
        ),
        when_matched="update",
    )
    t.delete_where("k = 18")
    run_stream_replicate(spark, str(src_root), str(dst_root), str(ck), **kw)
    got = _actual()
    assert got == _expected()
    ks = {k for k, _ in got}
    assert 3 in ks and 100 in ks and 15 not in ks and 18 not in ks

    # select must keep the key
    with pytest.raises(ValueError, match="key column"):
        run_stream_replicate(
            spark, str(src_root), str(dst_root), str(tmp_path / "ck2"),
            select=("v",),
        )


def test_cdf_diff_partitions_split_by_key_disjoint_groups(registered, tmp_path):
    """A change commit whose touched files form key-disjoint range
    clusters diffs as SEVERAL parallel partitions (interval sweep over
    footer key stats), and the delivered events still match the native
    per-commit diff exactly; stat-less files collapse to one group."""
    from database_anonymiser_spark.sources.spark_datasource import (
        _CdfDiffPartition,
        _ChangesStreamReader,
        _key_disjoint_groups,
    )

    # unit face
    e = lambda lo, hi: {"path": f"f{lo}", "key_min": lo, "key_max": hi}
    gs = _key_disjoint_groups([e(0, 10), e(50, 60)], [e(5, 9), e(55, 58)])
    assert len(gs) == 2
    assert {x["key_min"] for x in gs[0][0] + gs[0][1]} == {0, 5}
    gs1 = _key_disjoint_groups([e(0, 10)], [{"path": "x", "key_min": None,
                                             "key_max": None}])
    assert len(gs1) == 1  # stat-less: single group
    assert _key_disjoint_groups([], []) == []

    # e2e: range-clustered files, one DV delete touching two disjoint
    # bands → >1 diff partition in the plan, events ≡ native diff
    spark = registered
    root = tmp_path / "t"
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(1000)], "k long, v double"
    ).repartitionByRange(8, "k")
    t = VersionedTable.create(spark, root, df, key_col="k")
    t.delete_where("k < 50 or k >= 950")

    rdr = _ChangesStreamReader(str(root), {"readchangefeed": "true"})
    start = {"version": 0}  # past the create: just the delete commit
    parts = rdr.partitions(start, {"version": 1})
    diffs = [p for p in parts if isinstance(p, _CdfDiffPartition)]
    assert len(diffs) >= 2, "disjoint bands must split into groups"

    out, ck = tmp_path / "out", tmp_path / "ck"
    _drain(spark, root, out, ck, readChangeFeed="true",
           startingVersion="1")
    got = {
        (r["_change_type"], r["k"], r["v"])
        for r in spark.read.parquet(str(out)).collect()
    }
    want = {
        (r["_change_type"], r["k"], r["v"])
        for r in t.diff(0, 1, images="both").collect()
    }
    assert got == want
    assert len(got) == 100 and all(c == "delete" for c, *_ in got)


def test_stream_replicate_follows_upstream_add_column(registered, tmp_path):
    """A full-mirror replica follows upstream additive DDL: after the
    source's ALTER TABLE ADD COLUMN (+ widened writes), the restarted
    replication stream lands the widened batch via apply_changes
    schema evolution — replica schema advances in one commit, pre-DDL
    replica rows NULL-fill, and the mirror equality invariant holds."""
    from database_anonymiser_spark.streaming.pipeline import run_stream_replicate

    spark = registered
    src_root, dst_root = tmp_path / "src", tmp_path / "dst"
    ck = tmp_path / "ck"
    t = VersionedTable.create(
        spark,
        src_root,
        spark.createDataFrame(
            [(i, f"n{i}") for i in range(12)], "k long, name string"
        ),
        key_col="k",
    )
    run_stream_replicate(spark, str(src_root), str(dst_root), str(ck))
    dst = VersionedTable(spark, dst_root)
    assert dst.snapshot().columns == ["k", "name"]

    # upstream DDL + widened churn (the add itself is metadata-only and
    # feeds no rows; the merge after it carries the new column)
    t.add_column("region", "string")
    t.merge(
        spark.createDataFrame(
            [(3, "UPD", "eu"), (50, "new", "us")], "k long, name string, region string"
        ),
        when_matched="update",
    )
    run_stream_replicate(spark, str(src_root), str(dst_root), str(ck))

    def _rows(df):
        return sorted(tuple(r) for r in df.collect())

    assert dst.snapshot().columns == ["k", "name", "region"]
    assert _rows(dst.snapshot()) == _rows(t.snapshot())
    got = {r["k"]: r["region"] for r in dst.snapshot().collect()}
    assert got[3] == "eu" and got[50] == "us" and got[0] is None

    # a PROJECTED replica's columns are fixed: evolution never applies
    sel_root, ck2 = tmp_path / "sel", tmp_path / "ck2"
    run_stream_replicate(
        spark, str(src_root), str(sel_root), str(ck2), select=("k", "name")
    )
    assert VersionedTable(spark, sel_root).snapshot().columns == ["k", "name"]


def test_datasource_writer_refuses_identity_tables(registered, tmp_path):
    """The DataSource writer appends frames verbatim, so a table whose
    identity column the engine must allocate refuses it with guidance
    (generated columns are already refused via their auto-constraint)."""
    spark = registered
    t = VersionedTable.create(
        spark,
        tmp_path / "t",
        spark.createDataFrame([("a",), ("b",)], "name string"),
        key_col="sk",
        identity_col="sk",
    )
    df = t.snapshot()
    with pytest.raises(Exception, match="identity column"):
        (
            df.write.format("versioned")
            .option("path", str(tmp_path / "t"))
            .mode("append")
            .save()
        )
    # the supported path allocates fine
    t.append(spark.createDataFrame([("c",)], "name string"))
    assert t.snapshot().count() == 3


def test_datasource_writer_refuses_generated_tables(registered, tmp_path):
    """Decided + pinned (round 10): generated-column tables REFUSE the
    DataSource writer with a generated-specific message (not the
    misleading CHECK-constraints one) — the writer appends verbatim and
    has no executor-side evaluator to compute or validate the column.
    VersionedTable.append is the supported path (computes on omit)."""
    spark = registered
    t = VersionedTable.create(
        spark,
        tmp_path / "g",
        spark.createDataFrame([(1, 2.0), (2, 3.0)], "k long, price double"),
        key_col="k",
        generated={"price2": "price * 2"},
    )
    df = t.snapshot()
    with pytest.raises(Exception, match="generated column"):
        (
            df.write.format("versioned")
            .option("path", str(tmp_path / "g"))
            .mode("append")
            .save()
        )
    # the supported path computes the omitted column
    t.append(spark.createDataFrame([(3, 4.0)], "k long, price double"))
    assert t.snapshot().where("k = 3").first()["price2"] == 8.0


def test_datasource_reads_widened_table(registered, tmp_path):
    """The Arrow read face after widen_column: pyarrow's dataset
    projection upcasts old int32/float32 bytes to the widened logical
    schema — batch and streaming-CDF reads both serve the new types."""
    spark = registered
    t = VersionedTable.create(
        spark,
        tmp_path / "w",
        spark.createDataFrame([(1, 1.5), (2, 2.5)], "k int, v float"),
        key_col="k",
    )
    t.widen_column("v", "double")
    t.widen_column("k", "long")
    df = (
        spark.read.format("versioned")
        .option("path", str(tmp_path / "w"))
        .load()
    )
    assert dict(df.dtypes) == {"k": "bigint", "v": "double"}
    assert sorted(tuple(r) for r in df.collect()) == [(1, 1.5), (2, 2.5)]


def test_null_safe_eq_nested_vectorized(monkeypatch):
    """Round 11 (carried nit): nested types compare structurally —
    lists/structs recurse through numpy/Arrow vector ops instead of the
    old per-row Python loop. Round 12: MAPS decompose into key-sorted
    list<struct> and ride the same list path (entry order is not map
    identity), so the object fallback serves no standard Spark type —
    pinned by making it unreachable for every case below."""
    import pyarrow as pa

    import database_anonymiser_spark.sources.spark_datasource as DS
    from database_anonymiser_spark.sources.spark_datasource import (
        _null_safe_eq,
    )

    def _boom(a, b, n):
        raise AssertionError("object fallback reached for a standard type")

    monkeypatch.setattr(DS, "_null_safe_eq_py", _boom)

    def chk(a, b, expect, typ=None):
        aa, bb = pa.array(a, type=typ), pa.array(b, type=typ)
        assert _null_safe_eq(aa, bb, len(a)).tolist() == expect

    chk([1, 2, None], [1, 9, None], [True, False, True])
    chk(
        [[1, 2], [3], None, [], [None], [1]],
        [[1, 2], [4], None, [], [None], [1, 2]],
        [True, False, True, True, True, False],
    )
    chk([[[1], [2]], [[3]]], [[[1], [2]], [[4]]], [True, False])
    st = pa.struct([("x", pa.int64()), ("y", pa.string())])
    chk(
        [{"x": 1, "y": "a"}, {"x": 2, "y": "b"}, None, {"x": None, "y": "c"}],
        [{"x": 1, "y": "a"}, {"x": 2, "y": "z"}, None, {"x": None, "y": "c"}],
        [True, False, True, True],
        typ=st,
    )
    # null struct vs valid struct is NOT equal
    chk([None, {"x": 1}], [{"x": 1}, {"x": 1}], [False, True],
        typ=pa.struct([("x", pa.int64())]))
    # map type (round 12): key-sorted list<struct> decomposition — entry
    # ORDER does not affect identity, values/sizes/nullness do
    mt = pa.map_(pa.string(), pa.int64())
    chk([[("a", 1)], [("b", 2)]], [[("a", 1)], [("b", 3)]], [True, False],
        typ=mt)
    chk(
        [[("a", 1), ("b", 2)], [("x", 1)], None, [], [("k", None)]],
        [[("b", 2), ("a", 1)], [("x", 1), ("y", 2)], None, [], [("k", None)]],
        [True, False, True, True, True],
        typ=mt,
    )
    # map vs NULL map; and a map nested INSIDE a struct rides the same path
    chk([None, [("a", 1)]], [[("a", 1)], [("a", 1)]], [False, True], typ=mt)
    stm = pa.struct([("m", mt), ("n", pa.int64())])
    chk(
        [{"m": [("b", 2), ("a", 1)], "n": 1}, {"m": [("a", 1)], "n": 2}],
        [{"m": [("a", 1), ("b", 2)], "n": 1}, {"m": [("a", 2)], "n": 2}],
        [True, False],
        typ=stm,
    )


def test_cdf_diff_on_nested_columns(spark, tmp_path):
    """A CDF diff over a table with list + struct columns classifies
    carried/updated rows through the structural comparator."""
    from database_anonymiser_spark.sources.spark_datasource import (
        VersionedDataSource,
    )
    from database_anonymiser_spark.sources.versioned import VersionedTable

    df = spark.createDataFrame(
        [(1, [1, 2], ("a", 1)), (2, [3], ("b", 2)), (3, [], ("c", 3))],
        "k long, vs array<int>, st struct<s string, n int>",
    )
    t = VersionedTable.create(spark, str(tmp_path / "t"), df, key_col="k")
    # one row's LIST changes, one row's STRUCT changes, one is carried
    t.merge(
        spark.createDataFrame(
            [(1, [1, 2, 9], ("a", 1)), (2, [3], ("B", 2)), (3, [], ("c", 3))],
            "k long, vs array<int>, st struct<s string, n int>",
        )
    )
    spark.dataSource.register(VersionedDataSource)
    cdf = (
        spark.read.format("versioned")
        .option("path", str(tmp_path / "t"))
        .option("readChangeFeed", "true")
        .option("startingVersion", "0")
        .load()
    )
    ev = {(r._change_type, r.k) for r in cdf.collect()}
    assert ("update_postimage", 1) in ev and ("update_postimage", 2) in ev
    # the carried row contributes only its v0 creation insert — the v1
    # rewrite emits nothing for it (structural equality saw it carried)
    v1 = {
        (r._change_type, r.k)
        for r in cdf.where("_commit_version = 1").collect()
    }
    assert not any(k == 3 for _ct, k in v1)


def test_cdf_diff_on_map_columns_e2e(spark, tmp_path, monkeypatch):
    """Map-typed CDF end to end WITHOUT the object fallback (round 12):
    a carried map row (even with a different entry rendering) emits no
    event; a changed map value classifies update."""
    import database_anonymiser_spark.sources.spark_datasource as DS
    from database_anonymiser_spark.sources.spark_datasource import (
        VersionedDataSource,
    )
    from database_anonymiser_spark.sources.versioned import VersionedTable

    monkeypatch.setattr(
        DS, "_null_safe_eq_py",
        lambda a, b, n: (_ for _ in ()).throw(AssertionError("fallback")),
    )
    df = spark.createDataFrame(
        [(1, {"a": 1, "b": 2}), (2, {"x": 9}), (3, {})],
        "k long, m map<string,int>",
    )
    t = VersionedTable.create(spark, str(tmp_path / "t"), df, key_col="k")
    t.merge(
        spark.createDataFrame(
            [(1, {"b": 2, "a": 1}), (2, {"x": 10}), (3, {})],
            "k long, m map<string,int>",
        )
    )
    spark.dataSource.register(VersionedDataSource)
    cdf = (
        spark.read.format("versioned")
        .option("path", str(tmp_path / "t"))
        .option("readChangeFeed", "true")
        .option("startingVersion", "1")
        .load()
    )
    ev = {(r._change_type, r.k) for r in cdf.collect()}
    assert ev == {("update_preimage", 2), ("update_postimage", 2)}
    post = cdf.where("_change_type = 'update_postimage'").first()
    assert post.m == {"x": 10}


def test_stream_reader_max_bytes_per_trigger_bounds_batches(registered, tmp_path):
    """maxBytesPerTrigger (round 12): byte-based admission from the
    per-add ``size`` recorded in the log — file counts are a poor proxy
    under compaction (one compacted file can be the whole backfill).
    Always ≥1 row-delivering commit per batch (an oversized single file
    still flows); composes with maxFilesPerTrigger."""
    from database_anonymiser_spark.sources.spark_datasource import (
        _ChangesStreamReader,
    )

    spark = registered
    root = tmp_path / "bl"
    import hashlib as _h

    def _pay(k):  # incompressible: 8 distinct digests per row
        return "".join(
            _h.md5(f"{k}-{i}".encode()).hexdigest() for i in range(8)
        )

    mk = lambda i, n: spark.createDataFrame(
        [(i * 1000 + j, _pay(i * 1000 + j)) for j in range(n)],
        "k long, v string",
    ).coalesce(1)
    t = VersionedTable.create(spark, root, mk(0, 10), key_col="k")
    for i in range(1, 4):
        t.append(mk(i, 10))  # versions 1..3, one ~1KB file each
    # every add carries its recorded size
    sizes = [e.get("size") for e in t._live_entries()]
    assert all(isinstance(s, int) and s > 0 for s in sizes)
    one = max(sizes)

    def drain(opts):
        from database_anonymiser_spark.sources.spark_datasource import (
            _EmptyPartition,
        )

        r = _ChangesStreamReader(str(root), opts)
        start = r.initialOffset()
        batches = []
        while True:
            end = r.latestOffset()
            if end["version"] == start["version"]:
                break
            parts = r.partitions(start, end)
            batches.append(
                len([p for p in parts
                     if p and not isinstance(p, _EmptyPartition)])
            )
            start = end
        return batches

    # cap ≈ 1.5 files: one file per batch (each next file would exceed)
    assert drain({"maxbytespertrigger": str(int(one * 1.5))}) == [1, 1, 1, 1]
    # cap ≈ 2.5 files: two per batch
    assert drain({"maxbytespertrigger": str(int(one * 2.5))}) == [2, 2]

    # the verdict's compaction shape: a downstream table ingests the
    # COMPACTED upstream backfill as one big file among small trickle
    # appends — a file-count cap lumps it with neighbors, the byte cap
    # isolates it (and an oversized single file still flows: never ≥1
    # commit admitted means never stalls)
    t.compact()
    root2 = tmp_path / "down"
    t2 = VersionedTable.create(spark, root2, mk(8, 1), key_col="k")
    t2.append(t.snapshot().coalesce(1))  # the compacted backfill: 1 big file
    t2.append(mk(7, 1))
    small = min(e["size"] for e in t2._live_entries())
    big = max(e["size"] for e in t2._live_entries())
    assert big > 3 * small

    def drain2(opts):
        from database_anonymiser_spark.sources.spark_datasource import (
            _EmptyPartition,
        )

        r = _ChangesStreamReader(str(root2), opts)
        start = r.initialOffset()
        batches = []
        while True:
            end = r.latestOffset()
            if end["version"] == start["version"]:
                break
            parts = r.partitions(start, end)
            batches.append(
                len([p for p in parts
                     if p and not isinstance(p, _EmptyPartition)])
            )
            start = end
        return batches

    # byte cap < big: the backfill file comes through ALONE (admitted
    # despite exceeding the cap — first row-delivering commit), small
    # neighbors batch separately; a 2-file cap would have lumped them
    assert drain2({"maxbytespertrigger": str(int(small * 1.5))}) == [1, 1, 1]
    assert drain2({"maxfilespertrigger": "2"}) == [2, 1]

    # composes with maxFilesPerTrigger: whichever cap binds first (the
    # trailing 0-file batch is the compact commit riding along for free)
    assert drain(
        {"maxbytespertrigger": str(one * 10), "maxfilespertrigger": "1"}
    ) == [1, 1, 1, 1, 0]
