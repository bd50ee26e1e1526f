"""Composite-key (multi-column) support through the versioned layer
(round 11 — Delta merges on arbitrary ON conditions; the common real
upsert key is 2-3 columns, e.g. tenant_id + entity_id).

Contract under test: ``create(key_col=[c1, c2])`` stores the key tuple
in the log, the per-entry key slots track the LEADING column, trailing
key columns auto-join the declared stats so every write path records
their bounds, and every key-wise operation (merge clauses, skipping,
CDF diff, the DataSource faces, SCD2, CDC replication) operates on the
tuple."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import database_anonymiser_spark.sources.versioned as V
from database_anonymiser_spark.sources.versioned import VersionedTable


def _scanned(r) -> list:
    """The files a data-source reader's partitions hold, in scan order
    (a partition packs consecutive small files)."""
    return [f for p in r.partitions() for f in p.files]


def _mk(spark, root, tenants=3, per=5):
    df = spark.createDataFrame(
        [
            (t, i, f"v{t}-{i}")
            for t in range(1, tenants + 1)
            for i in range(1, per + 1)
        ],
        "tenant int, eid int, val string",
    ).repartition(tenants, "tenant")
    return VersionedTable.create(
        spark, str(root), df, key_col=["tenant", "eid"]
    )


def test_create_normalizes_and_declares_trailing_stats(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    assert t.key_col() == ["tenant", "eid"]
    assert t.key_cols() == ("tenant", "eid")
    # trailing key columns auto-join the declared stats so every write
    # records their per-file bounds
    assert "eid" in t.stats_cols()
    for e in t._live_entries():
        assert e["key_min"] is not None  # leading col in the key slots
        assert (e.get("stats") or {}).get("eid") is not None

    # a 1-element list normalizes to the plain single-key string
    df = spark.createDataFrame([(1, "a")], "k int, v string")
    t1 = VersionedTable.create(spark, str(tmp_path / "one"), df, key_col=["k"])
    assert t1.key_col() == "k"

    with pytest.raises(ValueError, match="duplicate"):
        VersionedTable.create(
            spark, str(tmp_path / "dup"), df, key_col=["k", "k"]
        )
    with pytest.raises(ValueError, match="not in frame"):
        VersionedTable.create(
            spark, str(tmp_path / "miss"), df, key_col=["k", "zz"]
        )


def test_composite_merge_upsert_delete_and_duplicates(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    src = spark.createDataFrame(
        [(2, 3, "UPDATED"), (2, 99, "NEW")], "tenant int, eid int, val string"
    )
    v = t.merge(src, skip_by="points")
    snap = {(r.tenant, r.eid): r.val for r in t.snapshot().collect()}
    assert snap[(2, 3)] == "UPDATED" and snap[(2, 99)] == "NEW"
    assert len(snap) == 16

    # key-only source on a pure delete-merge carries just the key tuple
    t.merge(
        spark.createDataFrame([(1, 1)], "tenant int, eid int"),
        when_matched="delete",
        insert_not_matched=False,
    )
    assert t.row_count() == 15

    # duplicate TUPLES in the source violate the contract; equal values
    # in one component alone do not
    with pytest.raises(ValueError, match="duplicate merge keys"):
        t.merge(
            spark.createDataFrame(
                [(1, 2, "a"), (1, 2, "b")], "tenant int, eid int, val string"
            )
        )
    t.merge(
        spark.createDataFrame(
            [(1, 2, "a"), (1, 3, "b")], "tenant int, eid int, val string"
        )
    )
    assert t.snapshot().where("tenant=1 and eid=2").first().val == "a"
    # CDF diff joins on the tuple
    d = {
        (r.tenant, r.eid): r._change_type
        for r in t.diff(0, v).collect()
    }
    assert d == {(2, 3): "update", (2, 99): "insert"}


def test_composite_point_skipping_is_a_conjunction(spark, tmp_path):
    """A (tenant, eid) point merge must touch only files whose bounds
    intersect on BOTH columns — the trailing column's stats prune files
    the leading column alone would keep."""
    # tenant clusters the files; eid varies within each — two files per
    # tenant split by eid band, so pruning needs the conjunction
    df = spark.createDataFrame(
        [
            (t, i, f"v{t}-{i}")
            for t in range(1, 5)
            for i in range(1, 101)
        ],
        "tenant int, eid int, val string",
    ).repartitionByRange(8, "tenant", "eid")
    t = VersionedTable.create(
        spark, str(tmp_path / "t"), df, key_col=["tenant", "eid"]
    )
    n_files = len(t._live_entries())
    assert n_files >= 6

    f0 = V.DATA_FILES_READ
    v = t.merge(
        spark.createDataFrame(
            [(2, 7, "X")], "tenant int, eid int, val string"
        ),
        skip_by="points",
    )
    reads = V.DATA_FILES_READ - f0
    m = t.commit_meta(v)["metrics"]
    # exactly the one file holding (tenant=2, eid=7) is rewritten
    assert m["files_touched"] == 1 and reads == 1
    assert m["files_carried"] == n_files - 1
    assert t.snapshot().where("tenant=2 and eid=7").first().val == "X"

    # range skipping conjunction: a source spanning eid [1, 3] within
    # tenant 3 must not touch tenant-3 files whose eid band is disjoint
    f0 = V.DATA_FILES_READ
    v2 = t.merge(
        spark.createDataFrame(
            [(3, 1, "a"), (3, 3, "b")], "tenant int, eid int, val string"
        )
    )
    m2 = t.commit_meta(v2)["metrics"]
    assert m2["files_touched"] < n_files  # conjunction pruned something


def test_composite_clause_merge_and_key_guard(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    src = spark.createDataFrame(
        [(3, 2, "hot"), (3, 99, "cold")], "tenant int, eid int, val string"
    )
    t.merge(
        src,
        matched=[
            ("update", "s.val = 'hot'", {"val": "upper(s.val)"}),
            ("delete", None),
        ],
        not_matched=[("insert", "s.val != 'cold'", None)],
    )
    snap = {(r.tenant, r.eid): r.val for r in t.snapshot().collect()}
    assert snap[(3, 2)] == "HOT" and (3, 99) not in snap

    # neither key component may appear in an update set
    for bad in ("tenant", "eid"):
        with pytest.raises(ValueError, match="key column"):
            t.merge(
                src,
                matched=[("update", None, {bad: "s." + bad})],
            )


def test_composite_null_component_inserts_never_matches(spark, tmp_path):
    t = _mk(spark, tmp_path / "t", tenants=1, per=3)
    # a row with a NULL key component never matches (SQL equality) — it
    # inserts; DISTINCT any-NULL tuples are each legal rows (round-12
    # advice: (1,NULL) and (NULL,2) are different tuples that merely
    # never match), while a REPEATED any-NULL tuple is a duplicate
    src = spark.createDataFrame(
        [(1, None, "nullish"), (1, 2, "upd")],
        "tenant int, eid int, val string",
    )
    t.merge(src)
    snap = t.snapshot().collect()
    assert len(snap) == 4
    assert any(r.eid is None and r.val == "nullish" for r in snap)
    # two DISTINCT partial-NULL tuples: both accepted, both insert
    t.merge(
        spark.createDataFrame(
            [(1, None, "x"), (None, 2, "y")],
            "tenant int, eid int, val string",
        )
    )
    assert t.row_count() == 6
    # the SAME any-NULL tuple twice is a duplicate (single-key rule:
    # two bare-NULL keys are one tuple — still refused)
    with pytest.raises(ValueError, match="duplicate merge keys"):
        t.merge(
            spark.createDataFrame(
                [(None, 7, "a"), (None, 7, "b")],
                "tenant int, eid int, val string",
            )
        )


def test_composite_diff_null_key_component_matches_single_key_semantics(
    spark, tmp_path
):
    """A NULL key component has no key identity in diff()/CDF — any-NULL
    tuples are routed around the key join for EVERY key arity (round-12
    advice: Spark's struct join is null-safe on fields, so the composite
    path silently matched what the single-column path never did), and
    identity falls back to full-row CONTENT: carried-unchanged rows emit
    no events (multiset exceptAll), changed rows classify delete+insert
    — deterministic regardless of which files a writer touched."""
    df = spark.createDataFrame(
        [(1, 1, "a"), (1, None, "n0")], "tenant int, eid int, val string"
    )
    t = VersionedTable.create(
        spark, str(tmp_path / "t"), df, key_col=["tenant", "eid"]
    )
    # keyed row updated in place; the any-NULL row's value changes too
    # (delete + append) — single-key semantics say delete+insert of the
    # NULL-keyed row, never update
    t.merge(
        spark.createDataFrame([(1, 1, "a2")], "tenant int, eid int, val string")
    )
    t.delete_where("val = 'n0'")
    t.append(
        spark.createDataFrame([(1, None, "n1")], "tenant int, eid int, val string")
    )
    ev = {
        (r.tenant, r.eid, r.val): r._change_type
        for r in t.diff(0, t.latest_version(), images="both").collect()
    }
    assert ev[(1, 1, "a")] == "update_preimage"
    assert ev[(1, 1, "a2")] == "update_postimage"
    assert ev[(1, None, "n0")] == "delete"
    assert ev[(1, None, "n1")] == "insert"

    # single-key twin: same classification for a bare NULL key
    df1 = spark.createDataFrame([(1, "a"), (None, "n0")], "k int, val string")
    t1 = VersionedTable.create(spark, str(tmp_path / "one"), df1, key_col="k")
    t1.merge(spark.createDataFrame([(1, "a2")], "k int, val string"))
    t1.delete_where("val = 'n0'")
    t1.append(spark.createDataFrame([(None, "n1")], "k int, val string"))
    ev1 = {
        (r.k, r.val): r._change_type
        for r in t1.diff(0, t1.latest_version(), images="both").collect()
    }
    assert ev1[(None, "n0")] == "delete"
    assert ev1[(None, "n1")] == "insert"
    assert ev1[(1, "a")] == "update_preimage"


def test_composite_occ_rebase_disjoint_merges(spark, tmp_path):
    """Two concurrent merges on disjoint composite key bands both land
    via the OCC auto-rebase (the winner's adds cannot match the loser's
    key tuples on BOTH columns)."""
    t = _mk(spark, tmp_path / "t", tenants=4, per=10)
    loser = VersionedTable(spark, str(tmp_path / "t"))
    src_win = spark.createDataFrame(
        [(1, 2, "W")], "tenant int, eid int, val string"
    )
    src_lose = spark.createDataFrame(
        [(4, 9, "L")], "tenant int, eid int, val string"
    )

    orig = V._commit
    raced = {"done": False}

    def race(root, version, adds, removes, key_col, **kw):
        if not raced["done"] and kw.get("op") == "merge_update" and (
            adds and any("L" not in "" for _ in [0])
        ):
            pass
        return orig(root, version, adds, removes, key_col, **kw)

    # deterministic interleave: commit the winner AFTER the loser has
    # prepared its files but BEFORE its commit — monkeypatch the commit
    # chokepoint once
    calls = {"n": 0}

    def interpose(root, version, adds, removes, key_col, **kw):
        if kw.get("op") == "merge_update" and calls["n"] == 0:
            calls["n"] = 1
            t.merge(src_win, skip_by="points")  # winner takes version
        return orig(root, version, adds, removes, key_col, **kw)

    V._commit = interpose
    try:
        # point the loser's module-level _commit at the interposer: the
        # loser's first commit attempt triggers the winner, conflicts,
        # and must rebase cleanly (disjoint tuples)
        loser.merge(src_lose, skip_by="points")
    finally:
        V._commit = orig
    snap = {(r.tenant, r.eid): r.val for r in t.snapshot().collect()}
    assert snap[(1, 2)] == "W" and snap[(4, 9)] == "L"


def test_composite_maintenance_rename_drop_and_detail(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    t.update_where({"val": "concat(val, '!')"}, "tenant = 1")
    assert all(
        r.val.endswith("!")
        for r in t.snapshot().where("tenant=1").collect()
    )
    t.compact(target_file_bytes=1 << 20)
    t.optimize_zorder(("tenant", "eid"), file_count=2)
    assert t.row_count() == 15
    assert t.detail()["key_col"] == ["tenant", "eid"]

    with pytest.raises(ValueError, match="key column"):
        t.drop_column("eid")
    t.rename_column("eid", "entity_id")
    assert t.key_col() == ["tenant", "entity_id"]
    # merges keep working under the renamed key component
    t.merge(
        spark.createDataFrame(
            [(1, 2, "renamed")], "tenant int, entity_id int, val string"
        ),
        skip_by="points",
    )
    assert (
        t.snapshot().where("tenant=1 and entity_id=2").first().val
        == "renamed"
    )


def test_composite_datasource_snapshot_and_cdf(spark, tmp_path):
    from database_anonymiser_spark.sources.spark_datasource import (
        VersionedDataSource,
    )

    t = _mk(spark, tmp_path / "t")
    v0 = t.latest_version()
    t.merge(
        spark.createDataFrame(
            [(2, 3, "CHG"), (9, 1, "INS")], "tenant int, eid int, val string"
        ),
        skip_by="points",
    )
    spark.dataSource.register(VersionedDataSource)
    snap = (
        spark.read.format("versioned")
        .option("path", str(tmp_path / "t"))
        .load()
    )
    assert snap.count() == 16
    got = {
        (r.tenant, r.eid): r.val
        for r in snap.where("tenant = 2").collect()
    }
    assert got[(2, 3)] == "CHG"

    cdf = (
        spark.read.format("versioned")
        .option("path", str(tmp_path / "t"))
        .option("readChangeFeed", "true")
        .option("startingVersion", str(v0))
        .load()
    )
    ev = {
        (r.tenant, r.eid, r._change_type) for r in cdf.collect()
    }
    assert (2, 3, "update_preimage") in ev
    assert (2, 3, "update_postimage") in ev
    assert (9, 1, "insert") in ev
    # carried rows in the rewritten file are excluded
    assert not any(ct == "delete" for _, _, ct in ev)


def test_composite_scd2_apply_and_temporal_join(spark, tmp_path):
    from database_anonymiser_spark.operators import scd

    src1 = spark.createDataFrame(
        [(1, 10, "bronze"), (1, 11, "silver"), (2, 10, "gold")],
        "tenant int, cust int, tier string",
    )
    dim = scd.scd2_init(
        spark, str(tmp_path / "dim"), src1, ["tenant", "cust"], "2026-01-01"
    )
    src2 = spark.createDataFrame(
        [(1, 10, "silver"), (1, 11, "silver"), (2, 10, "gold"), (3, 1, "new")],
        "tenant int, cust int, tier string",
    )
    scd.scd2_apply(
        dim, src2, ["tenant", "cust"], ("tier",), "2026-02-01"
    )
    cur = {
        (r.tenant, r.cust): r.tier
        for r in scd.scd2_current(dim).collect()
    }
    assert cur == {
        (1, 10): "silver", (1, 11): "silver", (2, 10): "gold", (3, 1): "new"
    }
    hist = dim.snapshot().where(
        (F.col("tenant") == 1) & (F.col("cust") == 10)
    ).collect()
    assert len(hist) == 2  # closed bronze + open silver

    facts = spark.createDataFrame(
        [(1, 10, "2026-01-15"), (1, 10, "2026-02-15")],
        "tenant int, cust int, ts string",
    )
    joined = scd.scd2_temporal_join(
        facts, dim, ["tenant", "cust"], "ts"
    ).collect()
    by_ts = {r.ts: r.tier for r in joined}
    assert by_ts == {"2026-01-15": "bronze", "2026-02-15": "silver"}

    # re-applying the same extract is a no-op (idempotent ingest)
    v = dim.latest_version()
    scd.scd2_apply(dim, src2, ["tenant", "cust"], ("tier",), "2026-03-01")
    assert dim.latest_version() == v


# ---------------------------------------------------------------------------
# Row tracking (round 11): CDF / scoped mutation on KEYLESS tables via an
# engine-allocated _row_id identity the table keys itself on.
# ---------------------------------------------------------------------------


def test_row_tracking_gives_keyless_tables_a_change_feed(spark, tmp_path):
    from database_anonymiser_spark.sources.versioned import ROW_ID_COL

    df = spark.createDataFrame(
        [("alpha", 1.0), ("beta", 2.0), ("gamma", 3.0)], "name string, v double"
    )
    t = VersionedTable.create(
        spark, str(tmp_path / "t"), df, key_col=None, row_tracking=True
    )
    assert t.key_col() == ROW_ID_COL
    ids0 = {r.name: r[ROW_ID_COL] for r in t.snapshot().collect()}
    assert len(set(ids0.values())) == 3  # unique allocated ids

    # append allocates fresh ids past the high-water
    t.append(spark.createDataFrame([("delta", 4.0)], "name string, v double"))
    ids1 = {r.name: r[ROW_ID_COL] for r in t.snapshot().collect()}
    assert ids1["delta"] not in ids0.values()
    assert all(ids1[n] == i for n, i in ids0.items())  # old rows keep ids

    # update_where keeps the changed row's id -> the feed sees an UPDATE
    v_upd = t.update_where({"v": "v * 10"}, "name = 'beta'")
    ids2 = {r.name: r[ROW_ID_COL] for r in t.snapshot().collect()}
    assert ids2 == ids1
    ev = {
        (r._change_type, r.name)
        for r in t.diff(v_upd - 1, v_upd, images="both").collect()
    }
    assert ev == {("update_preimage", "beta"), ("update_postimage", "beta")}

    # delete_where emits a delete with the old image
    v_del = t.delete_where("name = 'alpha'")
    ev = {
        (r._change_type, r.name)
        for r in t.diff(v_del - 1, v_del).collect()
    }
    assert ev == {("delete", "alpha")}

    # compact carries ids (row-preserving)
    t.compact(target_file_bytes=1 << 20)
    assert {r.name: r[ROW_ID_COL] for r in t.snapshot().collect()} == {
        n: i for n, i in ids2.items() if n != "alpha"
    }

    # whole-interval feed parity vs a KEYED twin running the same lineage
    kt = VersionedTable.create(
        spark, str(tmp_path / "k"),
        spark.createDataFrame(
            [(1, "alpha", 1.0), (2, "beta", 2.0), (3, "gamma", 3.0)],
            "id long, name string, v double",
        ),
        key_col="id",
    )
    kt.append(spark.createDataFrame([(4, "delta", 4.0)], "id long, name string, v double"))
    kt.update_where({"v": "v * 10"}, "name = 'beta'")
    kt.delete_where("name = 'alpha'")
    mine = sorted(
        (r._change_type, r.name, r.v)
        for r in t.diff(0, t.latest_version(), images="both").collect()
    )
    twin = sorted(
        (r._change_type, r.name, r.v)
        for r in kt.diff(0, kt.latest_version(), images="both").collect()
    )
    assert mine == twin

    # GENERATED ALWAYS: neither writes nor updates may touch the id
    with pytest.raises(ValueError, match="GENERATED ALWAYS"):
        t.update_where({"_row_id": "0"}, "true")
    with pytest.raises(ValueError, match="row_tracking"):
        VersionedTable.create(
            spark, str(tmp_path / "bad"), df, key_col="name",
            row_tracking=True,
        )


def test_row_tracking_streaming_cdf(spark, tmp_path):
    """The streaming change feed reads a row-tracked (keyless) table like
    any keyed one — batch CDF face checked here (same planner the stream
    uses)."""
    from database_anonymiser_spark.sources.spark_datasource import (
        VersionedDataSource,
    )

    df = spark.createDataFrame([("a", 1), ("b", 2)], "name string, n int")
    t = VersionedTable.create(
        spark, str(tmp_path / "t"), df, key_col=None, row_tracking=True
    )
    t.update_where({"n": "n + 100"}, "name = 'a'")
    spark.dataSource.register(VersionedDataSource)
    cdf = (
        spark.read.format("versioned")
        .option("path", str(tmp_path / "t"))
        .option("readChangeFeed", "true")
        .option("startingVersion", "0")
        .load()
    )
    ev = {(r._change_type, r.name, r.n) for r in cdf.collect()}
    assert ("update_preimage", "a", 1) in ev
    assert ("update_postimage", "a", 101) in ev
    assert not any(ct == "delete" for ct, *_ in ev)  # b carried, excluded


def test_composite_key_replication_and_streaming_sink(spark, tmp_path):
    """CDC replication and the merge streaming sink on a COMPOSITE-key
    upstream: the replica inherits the key tuple, the latest-wins
    collapse partitions by it, and snapshots converge across churn."""
    from database_anonymiser_spark.sources.spark_datasource import (
        VersionedDataSource,
    )
    from database_anonymiser_spark.streaming.pipeline import (
        run_stream_replicate,
    )

    spark.dataSource.register(VersionedDataSource)
    src_root, dst_root = tmp_path / "src", tmp_path / "dst"
    t = _mk(spark, src_root, tenants=3, per=6)
    t.merge(
        spark.createDataFrame(
            [(2, 3, "UPD"), (9, 1, "NEW")], "tenant int, eid int, val string"
        ),
        skip_by="points",
    )
    t.delete_where("tenant = 1 AND eid = 2")

    def _rows(df):
        return sorted(tuple(r) for r in df.collect())

    run_stream_replicate(
        spark, str(src_root), str(dst_root), str(tmp_path / "ck")
    )
    dst = VersionedTable(spark, str(dst_root))
    assert dst.key_col() == ["tenant", "eid"]
    assert _rows(dst.snapshot()) == _rows(t.snapshot())

    # incremental churn on both key components converges again
    t.merge(
        spark.createDataFrame(
            [(2, 3, "UPD2"), (3, 6, "X")], "tenant int, eid int, val string"
        ),
        skip_by="points",
    )
    run_stream_replicate(
        spark, str(src_root), str(dst_root), str(tmp_path / "ck")
    )
    assert _rows(dst.snapshot()) == _rows(t.snapshot())

    # a select that drops a key COMPONENT is refused
    with pytest.raises(ValueError, match="key column"):
        run_stream_replicate(
            spark, str(src_root), str(tmp_path / "d2"),
            str(tmp_path / "ck2"), select=("tenant", "val"),
        )


def test_composite_randomized_op_sequence_matches_python_twin(spark, tmp_path):
    """Seeded randomized mutation sequence on a COMPOSITE-key table
    (tuple merge upsert/delete, conditional clause merge, append,
    scoped update/delete, compact, zorder) checked after EVERY op
    against a pure-Python dict twin keyed by the tuple — the composite
    analogue of the single-key randomized twin, across checkpoint
    boundaries."""
    import random

    rng = random.Random(11)
    state = {
        (t, e): float(t * 100 + e) for t in range(4) for e in range(10)
    }
    schema = "tenant long, eid long, v double"
    base = VersionedTable.create(
        spark,
        str(tmp_path / "base"),
        spark.createDataFrame(
            [(t, e, v) for (t, e), v in state.items()], schema
        ).repartitionByRange(4, "tenant", "eid"),
        key_col=["tenant", "eid"],
    )
    next_eid = 1000

    def spark_state():
        return {
            (r.tenant, r.eid): r.v for r in base.snapshot().collect()
        }

    for step in range(14):
        op = rng.choice(
            ["mupd", "mdel", "clause", "append", "delw", "updw",
             "compact", "zorder"]
        )
        if op == "mupd":
            ks = rng.sample(sorted(state), min(3, len(state)))
            ks.append((rng.randrange(4), next_eid))
            next_eid += 1
            rows = [
                (t, e, float(rng.randint(0, 99))) for t, e in ks
            ]
            base.merge(
                spark.createDataFrame(rows, schema),
                skip_by=rng.choice(["range", "points"]),
            )
            for t, e, v in rows:
                state[(t, e)] = v
        elif op == "mdel" and len(state) > 6:
            ks = rng.sample(sorted(state), 2)
            base.merge(
                spark.createDataFrame(list(ks), "tenant long, eid long"),
                when_matched="delete",
                insert_not_matched=False,
                skip_by="points",
            )
            for k in ks:
                state.pop(k)
        elif op == "clause":
            ks = rng.sample(sorted(state), min(4, len(state)))
            rows = [(t, e, float(rng.randint(-9, 9))) for t, e in ks]
            base.merge(
                spark.createDataFrame(rows, "tenant long, eid long, d double"),
                matched=[
                    ("update", "s.d > 0", {"v": "t.v + s.d"}),
                    ("delete", "s.d < -5"),
                ],
                not_matched=[("insert", None, {
                    "tenant": "s.tenant", "eid": "s.eid", "v": "s.d",
                })],
            )
            for t, e, d in rows:
                if (t, e) in state:
                    if d > 0:
                        state[(t, e)] += d
                    elif d < -5:
                        state.pop((t, e))
                else:
                    state[(t, e)] = d
        elif op == "append":
            rows = [(9, next_eid + i, float(i)) for i in range(2)]
            next_eid += 2
            base.append(spark.createDataFrame(rows, schema))
            for t, e, v in rows:
                state[(t, e)] = v
        elif op == "delw" and len(state) > 6:
            cut = rng.randrange(4)
            base.delete_where(
                (F.col("tenant") == cut) & (F.col("eid") % 2 == 0),
                prune={"tenant": (cut, cut)},
            )
            state = {
                (t, e): v for (t, e), v in state.items()
                if not (t == cut and e % 2 == 0)
            }
        elif op == "updw":
            base.update_where({"v": F.col("v") + 1.0}, F.col("eid") % 3 == 0)
            state = {
                (t, e): (v + 1.0 if e % 3 == 0 else v)
                for (t, e), v in state.items()
            }
        elif op == "compact":
            base.compact(small_file_bytes=1 << 30)
        else:
            base.optimize_zorder(("tenant", "eid"), file_count=2)
        assert spark_state() == state, f"divergence after step {step} ({op})"

    import database_anonymiser_spark.sources.versioned as V

    assert base.latest_version() >= V.CHECKPOINT_INTERVAL
    assert V._list_checkpoints(base.root)


def test_composite_key_streaming_merge_sink(spark, tmp_path):
    """run_stream_to_versioned on a COMPOSITE key: per-batch in-batch
    dedup and the MERGE both key on the tuple; a re-delivered tuple
    updates instead of duplicating, and a second drain with no new input
    is a state no-op."""
    from database_anonymiser_spark.streaming.pipeline import (
        run_stream_to_versioned,
    )

    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    root = str(tmp_path / "table")
    schema = "tenant long, eid long, val string"

    def put(rows, name):
        import shutil

        d = src / ("_" + name)
        spark.createDataFrame(rows, schema).repartition(1).write.parquet(
            str(d), mode="overwrite"
        )
        for p in d.glob("*.parquet"):
            shutil.move(str(p), str(src / f"{name}_{p.name}"))
        shutil.rmtree(d)

    def drain():
        stream = spark.readStream.schema(schema).parquet(str(src))
        run_stream_to_versioned(
            stream, root, key_col=["tenant", "eid"], checkpoint=ckpt
        )

    put([(1, 1, "a"), (1, 2, "b"), (2, 1, "c")], "b0")
    drain()
    t = VersionedTable(spark, str(root))
    assert t.key_col() == ["tenant", "eid"]
    snap1 = {(r.tenant, r.eid): r.val for r in t.snapshot().collect()}
    assert snap1 == {(1, 1): "a", (1, 2): "b", (2, 1): "c"}

    # re-delivery of one tuple + a fresh tuple sharing each component
    put([(1, 1, "a2"), (1, 3, "d"), (2, 2, "e")], "b1")
    drain()
    snap2 = {(r.tenant, r.eid): r.val for r in t.snapshot().collect()}
    assert snap2[(1, 1)] == "a2" and snap2[(1, 3)] == "d"
    assert len(snap2) == 5

    v = t.latest_version()
    drain()  # no new input: table state untouched
    assert {(r.tenant, r.eid): r.val for r in t.snapshot().collect()} == snap2


def test_ivm_view_on_composite_key_base(spark, tmp_path):
    """IncrementalAggView over a COMPOSITE-key base: the refresh
    consumes the tuple-joined diff, so the rollup stays equal to the
    from-scratch aggregate across tuple merges and scoped deletes."""
    from database_anonymiser_spark.operators.ivm import IncrementalAggView

    t = _mk(spark, tmp_path / "base", tenants=3, per=4)
    # value column for the rollup
    t2root = str(tmp_path / "b2")
    df = t.snapshot().withColumn("amt", (F.col("eid") * 10.0))
    base = VersionedTable.create(
        spark, t2root, df, key_col=["tenant", "eid"]
    )
    view = IncrementalAggView.create(
        spark, str(tmp_path / "view"), base, "tenant", "amt"
    )

    def expect():
        rows = base.snapshot().groupBy("tenant").agg(
            F.count(F.lit(1)).alias("n"), F.sum("amt").alias("s")
        ).collect()
        return {r.tenant: (r.n, round(r.s, 2)) for r in rows}

    base.merge(
        spark.createDataFrame(
            [(2, 2, "UP", 500.0), (2, 99, "NEW", 7.0)],
            "tenant int, eid int, val string, amt double",
        ),
        skip_by="points",
    )
    view.refresh(base)
    got = {
        r["tenant"]: (r["n_rows"], round(r["sum_value"], 2))
        for r in view.snapshot().collect()
    }
    assert got == expect()

    base.delete_where("tenant = 1 AND eid <= 2", prune={"tenant": (1, 1)})
    view.refresh(base)
    got = {
        r["tenant"]: (r["n_rows"], round(r["sum_value"], 2))
        for r in view.snapshot().collect()
    }
    assert got == expect()


def test_pushdown_prunes_on_trailing_key_column(spark, tmp_path):
    """The DataSource pushdown prunes files by the TRAILING key
    component's auto-declared stats — a composite-key table's second
    column is range-prunable with zero extra declarations."""
    from pyspark.sql.datasource import EqualTo, GreaterThan

    from database_anonymiser_spark.sources.spark_datasource import (
        _PushdownSnapshotReader,
        VersionedDataSource,
    )

    spark.dataSource.register(VersionedDataSource)
    root = tmp_path / "p"
    df = spark.createDataFrame(
        [(t, e, float(t * 1000 + e)) for t in range(4) for e in range(250)],
        "tenant long, eid long, v double",
    ).repartitionByRange(8, "tenant", "eid")
    t = VersionedTable.create(
        spark, str(root), df, key_col=["tenant", "eid"]
    )
    total = len(t._live_entries())
    assert total >= 6

    # leading component prunes via the entry key slots
    r1 = _PushdownSnapshotReader(str(root))
    r1.pushFilters([EqualTo(("tenant",), 2)])
    assert 0 < len(_scanned(r1)) < total

    # trailing component prunes via the auto-declared stats
    r2 = _PushdownSnapshotReader(str(root))
    r2.pushFilters([GreaterThan(("eid",), 200)])
    n2 = len(_scanned(r2))
    assert 0 < n2 < total
    assert n2 == len(t.files_matching({"eid": (201, 2**62)}))

    # conjunction of both components prunes hardest
    r3 = _PushdownSnapshotReader(str(root))
    r3.pushFilters([EqualTo(("tenant",), 2), GreaterThan(("eid",), 200)])
    assert len(_scanned(r3)) <= min(len(_scanned(r1)), n2)

    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    try:
        pushed = (
            spark.read.format("versioned")
            .option("path", str(root)).option("pushdown", "true").load()
        )
        got = pushed.where("tenant = 2 AND eid > 200").count()
        assert got == 49
    finally:
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "false")


def test_read_matching_tuples_point_lookup(spark, tmp_path):
    """Tuple point lookups prune files by the per-column conjunction and
    return exactly the requested tuples (literal OR-of-conjunctions
    under the cap, broadcast semi-join above it — same answers)."""
    import database_anonymiser_spark.sources.versioned as V

    df = spark.createDataFrame(
        [(t, e, f"v{t}-{e}") for t in range(1, 5) for e in range(1, 101)],
        "tenant int, eid int, val string",
    ).repartitionByRange(8, "tenant", "eid")
    t = VersionedTable.create(
        spark, str(tmp_path / "t"), df, key_col=["tenant", "eid"]
    )
    n_files = len(t._live_entries())

    f0 = V.DATA_FILES_READ
    got = sorted(
        (r.tenant, r.eid, r.val)
        for r in t.read_matching_tuples(
            ["tenant", "eid"], [(2, 7), (4, 93)]
        ).collect()
    )
    assert got == [(2, 7, "v2-7"), (4, 93, "v4-93")]
    assert V.DATA_FILES_READ - f0 < n_files  # pruned

    # NULL-component tuples drop; arity mismatch refuses; empty -> empty
    assert t.read_matching_tuples(
        ["tenant", "eid"], [(None, 7)]
    ).count() == 0
    with pytest.raises(ValueError, match="arity"):
        t.read_matching_tuples(["tenant", "eid"], [(1, 2, 3)])

    # above the literal cap: broadcast semi-join path, same answers
    old = V.ISIN_LITERAL_CAP
    V.ISIN_LITERAL_CAP = 1
    try:
        got2 = sorted(
            (r.tenant, r.eid, r.val)
            for r in t.read_matching_tuples(
                ["tenant", "eid"], [(2, 7), (4, 93)]
            ).collect()
        )
    finally:
        V.ISIN_LITERAL_CAP = old
    assert got2 == got


def test_composite_by_source_scope_full_sync(spark, tmp_path):
    """A scoped full-sync merge on a composite-key table: files proved
    outside the by_source_scope carry by reference; in-scope vanished
    tuples delete."""
    df = spark.createDataFrame(
        [(t, e, f"v{t}-{e}") for t in range(1, 5) for e in range(1, 26)],
        "tenant int, eid int, val string",
    ).repartitionByRange(4, "tenant")
    t = VersionedTable.create(
        spark, str(tmp_path / "t"), df, key_col=["tenant", "eid"]
    )
    n_files = len(t._live_entries())
    # complete extract of tenant 2 minus the even eids, balances retagged
    src = (
        df.where("tenant = 2 AND eid % 2 = 1")
        .withColumn("val", F.concat(F.col("val"), F.lit("!")))
    )
    v = t.merge(
        src,
        not_matched_by_source="delete",
        by_source_scope={"tenant": (2, 2)},
    )
    m = t.commit_meta(v)["metrics"]
    assert m["files_carried"] >= 1  # out-of-scope tenants untouched
    snap = {(r.tenant, r.eid): r.val for r in t.snapshot().collect()}
    assert (2, 2) not in snap and snap[(2, 3)] == "v2-3!"
    assert snap[(1, 2)] == "v1-2" and snap[(4, 24)] == "v4-24"
    assert len(snap) == 75 + 13  # 3 untouched tenants + 13 odd eids


def test_tuple_bloom_prunes_correlated_composite_probes(spark, tmp_path):
    """Concatenated-TUPLE bloom sidecars (round 12): the per-column
    conjunction admits a file holding the probe's components in
    DIFFERENT rows — e.g. (a=1,b=9),(a=2,b=8) surviving a probe for
    (1,8); a tuple bloom witnesses co-occurrence and prunes it, in both
    read_matching_tuples and the points-merge skipping."""
    # file A: anti-correlated pairs covering ranges a∈[1,2], b∈[8,9];
    # file B: the genuinely-present tuple (1,8); file C: disjoint range
    fa = spark.createDataFrame(
        [(1, 9, "a19"), (2, 8, "a28")], "a int, b int, val string"
    ).coalesce(1)
    fb = spark.createDataFrame([(1, 8, "b18")], "a int, b int, val string")
    fc = spark.createDataFrame([(5, 50, "c")], "a int, b int, val string")
    t = VersionedTable.create(spark, str(tmp_path / "t"), fa, key_col=["a", "b"])
    t.append(fb)
    t.append(fc)

    # WITHOUT the tuple bloom, the per-column conjunction admits file A
    assert len(t.files_matching_any("a", [1])) >= 2
    f0 = V.DATA_FILES_READ
    got = t.read_matching_tuples(["a", "b"], [(1, 8)]).collect()
    reads_before = V.DATA_FILES_READ - f0
    assert [r.val for r in got] == ["b18"]
    assert reads_before == 2  # files A and B both admitted

    # analyze declares the tuple bloom; the probe now reads ONE file
    t.analyze(bloom_cols=[("a", "b")])
    f0 = V.DATA_FILES_READ
    got = t.read_matching_tuples(["a", "b"], [(1, 8)]).collect()
    assert [r.val for r in got] == ["b18"]
    assert V.DATA_FILES_READ - f0 == 1

    # points-merge consults it too: the tuple-point upsert touches only
    # the file that truly holds the tuple
    v = t.merge(
        spark.createDataFrame([(1, 8, "UPD")], "a int, b int, val string"),
        skip_by="points",
    )
    m = t.commit_meta(v)["metrics"]
    assert m["files_touched"] == 1
    assert t.snapshot().where("a=1 and b=8").first().val == "UPD"
    # the anti-correlated rows are untouched
    snap = {(r.a, r.b): r.val for r in t.snapshot().collect()}
    assert snap[(1, 9)] == "a19" and snap[(2, 8)] == "a28"

    # the declaration rides subsequent writes: the merge's new file
    # carries a maintained tuple sidecar under the same key
    tkey = "a,b"
    new_files = [
        e for e in t._live_entries() if (e.get("bloom") or {}).get(tkey)
    ]
    assert len(new_files) == len(t._live_entries())


def test_datasource_cdf_null_key_parity_with_native_diff(spark, tmp_path):
    """The Arrow CDF face classifies any-NULL keys by CONTENT identity,
    exactly like native diff() (round 12): index_in's nulls-match-nulls
    would silently give a NULL component a key identity the merge engine
    never grants. Carried-unchanged NULL-key rows emit nothing; changed
    ones classify delete+insert, never update."""
    from database_anonymiser_spark.sources.spark_datasource import (
        VersionedDataSource,
    )

    df = spark.createDataFrame(
        [(1, 1, "a"), (1, None, "n0"), (1, None, "keep")],
        "tenant int, eid int, val string",
    ).coalesce(1)
    t = VersionedTable.create(
        spark, str(tmp_path / "t"), df, key_col=["tenant", "eid"]
    )
    # one commit rewrites the file: keyed row updated; one NULL-key row
    # changes content (delete n0 + append n1 within separate commits
    # would not exercise the same-commit path — use merge + delete +
    # append, then read the WHOLE feed)
    t.merge(
        spark.createDataFrame([(1, 1, "a2")], "tenant int, eid int, val string")
    )
    t.delete_where("val = 'n0'")
    t.append(
        spark.createDataFrame([(1, None, "n1")], "tenant int, eid int, val string")
    )
    spark.dataSource.register(VersionedDataSource)
    cdf = (
        spark.read.format("versioned")
        .option("path", str(tmp_path / "t"))
        .option("readChangeFeed", "true")
        .option("startingVersion", "1")
        .load()
    )
    ev = {(r._change_type, r.tenant, r.eid, r.val) for r in cdf.collect()}
    # keyed row: proper update pair
    assert ("update_preimage", 1, 1, "a") in ev
    assert ("update_postimage", 1, 1, "a2") in ev
    # NULL-key rows: content identity — n0 deleted, n1 inserted, the
    # carried 'keep' row (rewritten twice with identical content) silent
    assert ("delete", 1, None, "n0") in ev
    assert ("insert", 1, None, "n1") in ev
    assert not any(r[3] == "keep" for r in ev)
    assert not any(
        ct.startswith("update") and eid is None for ct, _, eid, _ in ev
    )
    # parity: the native feed (per-commit diffs) sees the same multiset
    native = set()
    for v in range(1, t.latest_version() + 1):
        if t.commit_op(v) in V.ROW_PRESERVING_OPS:
            continue
        native |= {
            (r._change_type, r.tenant, r.eid, r.val)
            for r in t.diff(v - 1, v, images="both").collect()
        }
    assert native == ev
