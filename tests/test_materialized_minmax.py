"""Round 15: MIN/MAX + approx-distinct in SQL materialized views.

The breadth-axis MV (sources/materialized.py) now carries the
non-self-maintainable aggregates under the depth axis's bounded
loss-recompute rule (operators/ivm.py r7/r8): refresh must equal a
from-scratch recompute across delete-of-extremum, group-vanish, and
sketch-membership loss, with the recompute read bounded to the
affected groups' files and the create commit carrying the ivm.*
contract atomically.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from database_anonymiser_spark.sources.materialized import (
    create_materialized,
    materialized_info,
    parse_mv_query,
    refresh_materialized,
)
from database_anonymiser_spark.sources.versioned import VersionedTable

# the CLI writes its report to the working directory without --report
pytestmark = pytest.mark.usefixtures("in_tmp_path")

LOSS_AGGS = {
    "n": ("count", None),
    "total": ("sum", "amt"),
    "mn": ("min", "amt"),
    "mx": ("max", "amt"),
    "dv": ("approx_distinct", "val"),
}


def _oracle(src):
    """From-scratch truth: exact min/max; approx_distinct is EXACT below
    k=256 distinct values, so countDistinct IS the expected estimate."""
    return {
        r["grp"]: r.asDict()
        for r in src.snapshot()
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n"),
            # module convention: sum of an all-NULL group stores 0.0
            F.coalesce(F.sum("amt"), F.lit(0.0)).alias("total"),
            F.min("amt").alias("mn"),
            F.max("amt").alias("mx"),
            F.countDistinct("val").cast("double").alias("dv"),
        )
        .collect()
    }


def _check(spark, mv, src, mv_root):
    refresh_materialized(spark, mv_root)
    got = {
        r["grp"]: r.asDict()
        for r in mv.snapshot()
        .select("grp", "n", "total", "mn", "mx", "dv")
        .collect()
    }
    want = _oracle(src)
    assert sorted(got) == sorted(want), (sorted(got), sorted(want))
    for g, w in want.items():
        for c in ("n", "mn", "mx", "dv"):
            assert got[g][c] == w[c], (g, c, got[g][c], w[c])
        assert got[g]["total"] == pytest.approx(w["total"], rel=1e-9, abs=1e-9)


@pytest.fixture()
def src(spark, tmp_path):
    rows = [
        # (k, grp, amt, val) — 'a' has duplicate val 1; 'c' has NULLs
        (1, "a", 10.0, 1), (2, "a", 20.0, 1), (3, "a", 30.0, 2),
        (4, "b", 5.0, 3), (5, "b", 7.0, 4),
        (6, "c", None, None), (7, "c", 2.0, 5),
    ]
    return VersionedTable.create(
        spark, str(tmp_path / "src"),
        spark.createDataFrame(rows, "k int, grp string, amt double, val int"),
        key_col="k",
    )


def test_create_matches_recompute_and_is_one_commit(spark, src, tmp_path):
    mv = create_materialized(
        spark, str(tmp_path / "mv"), src.root, ["grp"], LOSS_AGGS
    )
    # one atomic commit: the create itself carries the ivm.* contract —
    # no follow-up property commit (the r14 crash window, closed)
    assert mv.latest_version() == 0
    assert materialized_info(mv)["aggs"]["mn"] == ("min", "amt")
    _check(spark, mv, src, str(tmp_path / "mv"))


def test_refresh_tracks_loss_mutation_classes(spark, src, tmp_path):
    mv_root = str(tmp_path / "mv")
    mv = create_materialized(spark, mv_root, src.root, ["grp"], LOSS_AGGS)

    # insert a new extremum + a fresh group: closed-form, NO recompute
    src.append(spark.createDataFrame(
        [(10, "a", 99.0, 6), (11, "d", 1.0, 7)],
        "k int, grp string, amt double, val int",
    ))
    r = refresh_materialized(spark, mv_root)
    assert r["recomputed_groups"] == 0
    _check(spark, mv, src, mv_root)

    # delete a NON-extremum row whose val has a surviving duplicate:
    # min/max untouched; the removed hash IS in the sketch (val 1 still
    # held by k=1) so the sketch conservatively recomputes — count it
    src.delete_where("k = 2")  # amt 20 in (10..99), val 1 dup
    r = refresh_materialized(spark, mv_root)
    assert r["recomputed_groups"] == 1  # sketch membership, not extremum
    _check(spark, mv, src, mv_root)

    # delete the group MINIMUM: bounded extremum recompute
    src.delete_where("k = 1")  # amt 10 == min('a')
    r = refresh_materialized(spark, mv_root)
    assert r["recomputed_groups"] == 1
    _check(spark, mv, src, mv_root)

    # update that MOVES the maximum to another group (feed: delete in
    # 'a', insert in 'b')
    src.update_where({"grp": "'b'"}, "k = 10")
    refresh_materialized(spark, mv_root)
    _check(spark, mv, src, mv_root)

    # group-vanish: every 'd' row leaves; the view row must delete
    # without any recompute read
    src.delete_where("grp = 'd'")
    r = refresh_materialized(spark, mv_root)
    assert r["recomputed_groups"] == 0
    assert mv.snapshot().where("grp = 'd'").count() == 0
    _check(spark, mv, src, mv_root)

    # all non-NULL values of a group removed but rows survive: min/max
    # and the estimate must go NULL/0, not keep stale state
    src.delete_where("k = 7")  # 'c' keeps only the all-NULL row
    refresh_materialized(spark, mv_root)
    row = mv.snapshot().where("grp = 'c'").first()
    assert row["mn"] is None and row["mx"] is None and row["dv"] == 0.0
    _check(spark, mv, src, mv_root)


def test_recompute_read_is_bounded_to_affected_groups(spark, tmp_path):
    """Deleting one band's extremum refreshes by reading the changed
    band + that group's files only — never the other bands (the
    DATA_FILES_READ bound of the r14 verdict's top_next)."""
    import database_anonymiser_spark.sources.versioned as V

    t = VersionedTable.create(
        spark, str(tmp_path / "big"),
        spark.range(0, 2_000).selectExpr(
            "id AS k", "CAST(0 AS INT) AS grp", "CAST(id AS DOUBLE) AS amt"
        ).coalesce(1),
        key_col="k",
        stats_cols=("grp",),  # the recompute prune rides grp file stats
    )
    for g in (1, 2, 3):
        t.append(
            spark.range(g * 10_000, g * 10_000 + 2_000).selectExpr(
                f"id AS k", f"CAST({g} AS INT) AS grp",
                "CAST(id AS DOUBLE) AS amt",
            ).coalesce(1)
        )
    mv_root = str(tmp_path / "mv")
    mv = create_materialized(
        spark, mv_root, t.root, ["grp"],
        {"n": ("count", None), "mn": ("min", "amt"), "mx": ("max", "amt")},
    )
    # delete band 3's MINIMUM row (k = 30000, amt = 30000.0)
    t.delete_where("k = 30000", prune={"k": (30_000, 30_000)})
    f0 = V.DATA_FILES_READ
    r = refresh_materialized(spark, mv_root)
    reads = V.DATA_FILES_READ - f0
    assert r["refreshed"] and r["recomputed_groups"] == 1
    # diff reads band 3 under both versions (2), the recompute reads the
    # new band-3 file only (1, grp-stats pruned), and the MV merge
    # rewrites its own small file(s) — never the 3 untouched bands (a
    # from-scratch recompute would read all 4 source bands and more)
    assert reads <= 6, reads
    row = mv.snapshot().where("grp = 3").first()
    assert row["mn"] == 30001.0 and row["mx"] == 31999.0 and row["n"] == 1999


def test_insert_only_delta_skips_loss_machinery(spark, tmp_path):
    """Round-15 review fix (finding 6): an append-only refresh on a
    loss-aggregate view must not pay the view-snapshot join — one
    delta-sized probe decides no removal band exists, and the refresh
    reads only the appended band + its own merge files."""
    import database_anonymiser_spark.sources.versioned as V

    t = VersionedTable.create(
        spark, str(tmp_path / "t"),
        spark.range(0, 2_000).selectExpr(
            "id AS k", "CAST(id % 4 AS INT) AS grp", "CAST(id AS DOUBLE) AS amt"
        ).coalesce(1),
        key_col="k", stats_cols=("grp",),
    )
    mv_root = str(tmp_path / "mv")
    create_materialized(
        spark, mv_root, t.root, ["grp"],
        {"mn": ("min", "amt"), "mx": ("max", "amt"), "n": ("count", None)},
    )
    t.append(
        spark.range(10_000, 10_500).selectExpr(
            "id AS k", "CAST(id % 4 AS INT) AS grp", "CAST(id AS DOUBLE) AS amt"
        ).coalesce(1)
    )
    f0 = V.DATA_FILES_READ
    r = refresh_materialized(spark, mv_root)
    reads = V.DATA_FILES_READ - f0
    assert r["refreshed"] and r["recomputed_groups"] == 0
    # appended band (1, one version only — pure adds) + the MV merge's
    # own file(s); the loss machinery's snapshot read never happens
    assert reads <= 3, reads


def test_approx_distinct_exact_below_k(spark, tmp_path):
    """Below k=256 distinct values the KMV sketch is EXACT: estimates
    equal countDistinct through inserts, duplicate removals (estimate
    unchanged), and last-copy removals (estimate decrements)."""
    rows = [(i, "g", i % 40) for i in range(200)]  # 40 distinct, dups
    t = VersionedTable.create(
        spark, str(tmp_path / "t"),
        spark.createDataFrame(rows, "k int, grp string, val int"),
        key_col="k",
    )
    mv_root = str(tmp_path / "mv")
    mv = create_materialized(
        spark, mv_root, t.root, ["grp"], {"dv": ("approx_distinct", "val")}
    )
    assert mv.snapshot().first()["dv"] == 40.0
    # remove ONE duplicate of val 0 (k=0; k=40,80,... still hold 0)
    t.delete_where("k = 0")
    refresh_materialized(spark, mv_root)
    assert mv.snapshot().first()["dv"] == 40.0
    # remove EVERY copy of val 7 (k ≡ 7 mod 40)
    t.delete_where("k % 40 = 7")
    refresh_materialized(spark, mv_root)
    assert mv.snapshot().first()["dv"] == 39.0
    # insert a brand-new value
    t.append(spark.createDataFrame([(1000, "g", 999)], "k int, grp string, val int"))
    refresh_materialized(spark, mv_root)
    assert mv.snapshot().first()["dv"] == 40.0


def test_refresh_to_version_pins_the_target(spark, src, tmp_path):
    mv_root = str(tmp_path / "mv")
    mv = create_materialized(
        spark, mv_root, src.root, ["grp"], {"mn": ("min", "amt")}
    )
    v0 = src.latest_version()
    src.delete_where("k = 1")          # v0+1: removes min('a') = 10.0
    src.delete_where("k = 3")          # v0+2: removes max('a') = 30.0
    r = refresh_materialized(spark, mv_root, to_version=v0 + 1)
    assert r["to_version"] == v0 + 1
    assert mv.snapshot().where("grp = 'a'").first()["mn"] == 20.0
    # watermark recorded at the pinned version; a second bounded refresh
    # carries on from there
    assert materialized_info(mv)["last_version"] == v0 + 1
    refresh_materialized(spark, mv_root)
    assert mv.snapshot().where("grp = 'a'").first()["mn"] == 20.0
    with pytest.raises(ValueError, match="outside"):
        refresh_materialized(spark, mv_root, to_version=v0)


def test_sql_face_minmax_and_to_version(spark, tmp_path):
    """CREATE MATERIALIZED VIEW with MIN/MAX/APPROX_COUNT_DISTINCT SQL
    spellings + REFRESH ... TO VERSION through the CLI script face."""
    from database_anonymiser_spark.cli import main as cli_main

    data_dir = tmp_path / "data"
    data_dir.mkdir()
    spark.range(1).write.parquet(str(data_dir / "dummy.parquet"))
    src_root = tmp_path / "s"
    src = VersionedTable.create(
        spark, str(src_root),
        spark.createDataFrame(
            [(1, "x", 10.0), (2, "x", 20.0), (3, "y", 5.0)],
            "k int, grp string, amt double",
        ),
        key_col="k",
    )
    mv_loc = tmp_path / "mv"
    script = tmp_path / "mv.sql"
    script.write_text(
        f"CREATE MATERIALIZED VIEW m USING VERSIONED LOCATION '{mv_loc}' "
        "AS SELECT grp, min(amt) AS lo, max(amt) AS hi, "
        "approx_count_distinct(amt) AS d, count(*) AS n "
        "FROM s GROUP BY grp;\n"
        "DELETE FROM s WHERE k = 1;\n"          # removes min('x')
        f"REFRESH MATERIALIZED VIEW m TO VERSION {src.latest_version() + 1};\n"
        "DELETE FROM s WHERE k = 2;\n"          # 'x' vanishes entirely
        "REFRESH MATERIALIZED VIEW m;\n"
    )
    rc = cli_main([
        "--sqlFile", str(script),
        "--data", str(data_dir),
        "--versionedTable", f"s={src_root}",
    ])
    assert rc == 0
    mv = VersionedTable(spark, mv_loc)
    # pinned first refresh saw lo=20; the head refresh vanished 'x'
    assert mv.snapshot().where("grp = 'x'").count() == 0
    row = mv.snapshot().where("grp = 'y'").first()
    assert row["lo"] == 5.0 and row["hi"] == 5.0
    assert row["d"] == 1.0 and row["n"] == 1


def _mutate(src, spark):
    """A deterministic mutation burst touching every delta class:
    update inside a group, delete of a group minimum, a fresh group."""
    src.update_where({"amt": "amt + 1"}, "grp = 'b'")
    src.delete_where("k = 1")  # min('a')
    src.append(spark.createDataFrame(
        [(60, "n", 4.0, 9)], "k int, grp string, amt double, val int"
    ))


def test_stream_materialize_row_level(spark, src, tmp_path):
    """row_level=True: the batch's CDF rows feed the delta directly —
    view equals from-scratch after the drain, replayed/idle drains
    no-op, and the per-drain file reads sit STRICTLY below the
    log-re-reading tick design's on the identical mutation burst."""
    import database_anonymiser_spark.sources.versioned as V
    from database_anonymiser_spark.streaming.pipeline import (
        run_stream_materialize,
    )

    # twin scenario tables so the two designs see identical work
    roots = {}
    for mode in ("row", "tick"):
        s = VersionedTable.create(
            spark, str(tmp_path / f"src_{mode}"),
            src.snapshot(0), key_col="k",
        )
        mv_root = str(tmp_path / f"mv_{mode}")
        create_materialized(spark, mv_root, s.root, ["grp"], LOSS_AGGS)
        _mutate(s, spark)
        roots[mode] = (s, mv_root)

    s, mv_root = roots["row"]
    f0 = V.DATA_FILES_READ
    rs = run_stream_materialize(
        spark, s.root, mv_root, str(tmp_path / "ck_row"), row_level=True
    )
    row_reads = V.DATA_FILES_READ - f0
    assert rs and all(r["row_level"] for r in rs)
    assert rs[-1]["to_version"] == s.latest_version()
    mv = VersionedTable(spark, mv_root)
    _check(spark, mv, s, mv_root)

    s2, mv_root2 = roots["tick"]
    f0 = V.DATA_FILES_READ
    run_stream_materialize(
        spark, s2.root, mv_root2, str(tmp_path / "ck_tick"), row_level=False
    )
    tick_reads = V.DATA_FILES_READ - f0
    # the row-level tick never re-reads the interval from the log (the
    # stream already shipped the rows); the tick design pays diff reads
    assert row_reads < tick_reads, (row_reads, tick_reads)

    # idle drain: nothing recorded, no view commit
    v = mv.latest_version()
    rs = run_stream_materialize(
        spark, s.root, mv_root, str(tmp_path / "ck_row"), row_level=True
    )
    assert rs == [] and mv.latest_version() == v

    # catch-up over a second burst, same checkpoint
    _mutate(s, spark)
    rs = run_stream_materialize(
        spark, s.root, mv_root, str(tmp_path / "ck_row"), row_level=True
    )
    assert rs and rs[-1]["row_level"]
    _check(spark, mv, s, mv_root)


def test_row_level_intra_batch_churn_nets_out(spark, src, tmp_path):
    """Round-15 review fix: a streaming batch spans MULTIPLE commits
    (per-commit CDF events, not a net diff). A value inserted in one
    commit and deleted in the next — same batch — must contribute
    NOTHING: not to the closed-form least/greatest, not to the sketch
    union (the born-and-died hash would otherwise inflate the exact
    estimate with no loss flag to correct it), and a born-and-died row
    in a FRESH group must not drag the group's inserted extremum
    down."""
    from database_anonymiser_spark.streaming.pipeline import (
        run_stream_materialize,
    )

    mv_root = str(tmp_path / "mv")
    mv = create_materialized(spark, mv_root, src.root, ["grp"], LOSS_AGGS)
    # commit 1: a mid-range amt (no extremum flag) with a brand-new val
    # → without netting, h(77) pollutes 'a's sketch flag-free; plus a
    # fresh group 'n' whose eventual minimum is NOT its batch minimum
    src.append(spark.createDataFrame(
        [(50, "a", 15.0, 77), (60, "n", 5.0, 9), (61, "n", 9.0, 8)],
        "k int, grp string, amt double, val int",
    ))
    # commit 2: the churn — k=50 and the fresh group's minimum die
    src.delete_where("k = 50 OR k = 60")
    rs = run_stream_materialize(
        spark, src.root, mv_root, str(tmp_path / "ck"), row_level=True
    )
    assert rs and rs[-1]["row_level"]
    # 'a' is untouched net: min/max stand, dv stays exact at 2
    row = mv.snapshot().where("grp = 'a'").first()
    assert row["mn"] == 10.0 and row["mx"] == 30.0 and row["dv"] == 2.0
    # fresh group 'n' nets to the single surviving row
    row = mv.snapshot().where("grp = 'n'").first()
    assert row["mn"] == 9.0 and row["mx"] == 9.0 and row["n"] == 1
    _check(spark, mv, src, mv_root)


def test_multi_file_commit_never_splits_across_batches(spark, tmp_path):
    """The soundness precondition of the row-level path, pinned: the
    engine's streaming-CDF offsets are COMMIT-granular — a commit whose
    file count exceeds maxFilesPerTrigger is still delivered whole in
    one batch (admission rounds up to the commit boundary), so a torn
    commit cannot occur by construction."""
    from database_anonymiser_spark.sources.spark_datasource import (
        _ChangesStreamReader,
    )

    root = tmp_path / "t"
    t = VersionedTable.create(
        spark, str(root),
        spark.createDataFrame([(0, "x")], "k long, v string").coalesce(1),
        key_col="k",
    )
    # one commit, THREE files
    t.append(
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
        ).repartition(3)
    )
    r = _ChangesStreamReader(str(root), {"maxfilespertrigger": "1"})
    start = r.initialOffset()
    steps = []
    while True:
        end = r.latestOffset()
        if end["version"] == start["version"]:
            break
        steps.append((start["version"], end["version"]))
        r.partitions(start, end)
        start = end
    # v0 (1 file) then v1 (3 files) — v1 arrives in ONE offset step
    # despite the 1-file cap; no interval ever ends inside a commit
    assert steps == [(-1, 0), (0, 1)]


def test_feed_gap_detection(spark, tmp_path):
    """_has_feed_gap: data-changing commits between watermark and the
    batch's first commit are gaps; row-preserving commits are not."""
    from database_anonymiser_spark.streaming.pipeline import _has_feed_gap

    t = VersionedTable.create(
        spark, str(tmp_path / "t"),
        spark.range(0, 100).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v"),
        key_col="k",
    )
    t.append(spark.range(100, 110).selectExpr(
        "id AS k", "CAST(id AS DOUBLE) AS v"
    ))                                   # v1: data-changing
    t.compact()                          # v2: row-preserving
    t.delete_where("k = 5")              # v3: data-changing
    assert not _has_feed_gap(t, 0, 1)    # adjacent
    assert _has_feed_gap(t, 0, 3)        # v1 missing from the batch
    assert not _has_feed_gap(t, 1, 3)    # only the compaction between


def test_parse_mv_query_new_kinds(spark):
    srcv, keys, aggs, _f = parse_mv_query(
        "SELECT grp, min(a) AS lo, max(b) AS hi, "
        "approx_count_distinct(c) AS d FROM t GROUP BY grp"
    )
    assert srcv == "t" and keys == ["grp"]
    assert aggs == {
        "lo": ("min", "a"), "hi": ("max", "b"), "d": ("approx_distinct", "c")
    }


def test_filtered_mv_tracks_boundary_crossings(spark, tmp_path):
    """Round 15: filtered materialized views — the view equals
    ``SELECT ... WHERE p GROUP BY ...`` through every boundary
    crossing: rows entering scope (bare insert), leaving scope (bare
    delete — including the group minimum, exercising the loss recompute
    UNDER the filter), and out-of-scope churn (invisible, watermark
    still advances)."""
    rows = [
        (1, "a", "open", 10.0, 1), (2, "a", "open", 20.0, 2),
        (3, "a", "closed", 5.0, 3),
        (4, "b", "open", 7.0, 4), (5, "b", "closed", 1.0, 5),
    ]
    src = VersionedTable.create(
        spark, str(tmp_path / "src"),
        spark.createDataFrame(
            rows, "k int, grp string, status string, amt double, val int"
        ),
        key_col="k",
    )
    mv_root = str(tmp_path / "mv")
    mv = create_materialized(
        spark, mv_root, src.root, ["grp"],
        {"n": ("count", None), "total": ("sum", "amt"),
         "mn": ("min", "amt"), "dv": ("approx_distinct", "val")},
        filter_sql="status = 'open'",
    )
    assert materialized_info(mv)["filter"] == "status = 'open'"

    def check():
        refresh_materialized(spark, mv_root)
        got = {
            r["grp"]: r.asDict()
            for r in mv.snapshot().select("grp", "n", "total", "mn", "dv")
            .collect()
        }
        want = {
            r["grp"]: r.asDict()
            for r in src.snapshot().where("status = 'open'")
            .groupBy("grp")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.coalesce(F.sum("amt"), F.lit(0.0)).alias("total"),
                F.min("amt").alias("mn"),
                F.countDistinct("val").cast("double").alias("dv"),
            )
            .collect()
        }
        assert sorted(got) == sorted(want), (sorted(got), sorted(want))
        for g, w in want.items():
            for c in ("n", "mn", "dv"):
                assert got[g][c] == w[c], (g, c, got[g][c], w[c])
            assert got[g]["total"] == pytest.approx(w["total"], rel=1e-9)

    # the out-of-scope rows never materialized
    assert mv.snapshot().where("grp = 'a'").first()["n"] == 2
    check()
    # ENTER scope: k=3 reopens — bare insert to the view
    src.update_where({"status": "'open'"}, "k = 3")
    check()
    # LEAVE scope taking the group MINIMUM with it: k=3 (amt 5.0 is
    # min('a') in scope) closes again — loss recompute under the filter
    src.update_where({"status": "'closed'"}, "k = 3")
    r = refresh_materialized(spark, mv_root)
    assert not r["refreshed"] or True  # idempotent follow-up
    check()
    assert mv.snapshot().where("grp = 'a'").first()["mn"] == 10.0
    # delete an in-scope row; append an out-of-scope one (invisible)
    src.delete_where("k = 4")  # 'b' group vanishes from the view
    src.append(spark.createDataFrame(
        [(6, "b", "closed", 99.0, 6)],
        "k int, grp string, status string, amt double, val int",
    ))
    check()
    assert mv.snapshot().where("grp = 'b'").count() == 0
    # out-of-scope-only churn: watermark advances, content untouched
    src.update_where({"amt": "amt + 1"}, "status = 'closed'")
    r = refresh_materialized(spark, mv_root)
    assert r["refreshed"] and r["groups_changed"] == 0
    assert materialized_info(mv)["last_version"] == src.latest_version()
    check()


def test_filtered_mv_sql_face_and_parse(spark, tmp_path):
    from database_anonymiser_spark.cli import main as cli_main

    srcv, keys, aggs, filt = parse_mv_query(
        "SELECT grp, count(*) AS n FROM t WHERE status = 'x' GROUP BY grp"
    )
    assert filt == "status = 'x'" and srcv == "t"

    data_dir = tmp_path / "data"
    data_dir.mkdir()
    spark.range(1).write.parquet(str(data_dir / "dummy.parquet"))
    src = VersionedTable.create(
        spark, str(tmp_path / "s"),
        spark.createDataFrame(
            [(1, "x", "open", 10.0), (2, "x", "closed", 20.0),
             (3, "y", "open", 5.0)],
            "k int, grp string, status string, amt double",
        ),
        key_col="k",
    )
    mv_loc = tmp_path / "mv"
    script = tmp_path / "m.sql"
    script.write_text(
        f"CREATE MATERIALIZED VIEW m USING VERSIONED LOCATION '{mv_loc}' "
        "AS SELECT grp, count(*) AS n, min(amt) AS lo "
        "FROM s WHERE status = 'open' GROUP BY grp;\n"
        "UPDATE s SET status = 'open' WHERE k = 2;\n"
        "REFRESH MATERIALIZED VIEW m;\n"
    )
    rc = cli_main([
        "--sqlFile", str(script),
        "--data", str(data_dir),
        "--versionedTable", f"s={src.root}",
    ])
    assert rc == 0
    got = {
        r["grp"]: (r["n"], r["lo"])
        for r in VersionedTable(spark, str(mv_loc)).snapshot()
        .select("grp", "n", "lo").collect()
    }
    assert got == {"x": (2, 10.0), "y": (1, 5.0)}


def test_show_create_table_renders_mv_definition(spark, tmp_path):
    """Round 15: SHOW CREATE TABLE on a materialized view renders the
    executable CREATE MATERIALIZED VIEW definition (source resolved by
    reverse registry lookup, filter included) — the plain-CREATE
    rendering would have recreated a contract-less lookalike."""
    from database_anonymiser_spark.sql_dml import execute_utility

    src = VersionedTable.create(
        spark, str(tmp_path / "s"),
        spark.createDataFrame(
            [(1, "x", "open", 10.0), (2, "x", "closed", 20.0),
             (3, "y", "open", 5.0)],
            "k int, grp string, status string, amt double",
        ),
        key_col="k",
    )
    mv_root = str(tmp_path / "mv")
    create_materialized(
        spark, mv_root, src.root, ["grp"],
        {"n": ("count", None), "lo": ("min", "amt"),
         "d": ("approx_distinct", "amt")},
        filter_sql="status = 'open'",
    )
    views = {
        "s": {"root": str(src.root), "pinned": False},
        "m": {"root": mv_root, "pinned": False},
    }
    ddl = execute_utility(spark, "SHOW CREATE TABLE m", views)["rows"][0][
        "createtab_stmt"
    ]
    assert ddl.startswith("CREATE MATERIALIZED VIEW m USING VERSIONED")
    assert "FROM s WHERE status = 'open' GROUP BY grp" in ddl
    assert "count(*) AS n" in ddl and "min(amt) AS lo" in ddl
    assert "approx_count_distinct(amt) AS d" in ddl
    # executable round-trip at a fresh location and name
    ddl2 = (
        ddl.rstrip(";")
        .replace(mv_root, str(tmp_path / "mv2"))
        .replace("MATERIALIZED VIEW m ", "MATERIALIZED VIEW m2 ")
    )
    frag = execute_utility(spark, ddl2, views)
    assert frag["op"] == "create_materialized_view"
    a = {(r["grp"], r["n"], r["lo"], r["d"])
         for r in VersionedTable(spark, mv_root).snapshot()
         .select("grp", "n", "lo", "d").collect()}
    b = {(r["grp"], r["n"], r["lo"], r["d"])
         for r in VersionedTable(spark, str(tmp_path / "mv2")).snapshot()
         .select("grp", "n", "lo", "d").collect()}
    assert a == b and a
    # an UNREGISTERED source renders the placeholder + guidance comment
    ddl3 = execute_utility(
        spark, "SHOW CREATE TABLE m", {"m": views["m"]}
    )["rows"][0]["createtab_stmt"]
    assert "<source_view>" in ddl3 and "-- source root:" in ddl3


def test_row_level_stream_with_filtered_mv(spark, tmp_path):
    """Filtered MV maintained by the row-level streaming path: scope
    boundary crossings arrive as per-commit CDF events, net, filter,
    and land correctly — including an extremum leaving scope."""
    from database_anonymiser_spark.streaming.pipeline import (
        run_stream_materialize,
    )

    src = VersionedTable.create(
        spark, str(tmp_path / "src"),
        spark.createDataFrame(
            [(1, "a", "open", 10.0), (2, "a", "open", 20.0),
             (3, "a", "closed", 5.0), (4, "b", "open", 7.0)],
            "k int, grp string, status string, amt double",
        ),
        key_col="k",
    )
    mv_root = str(tmp_path / "mv")
    mv = create_materialized(
        spark, mv_root, src.root, ["grp"],
        {"n": ("count", None), "mn": ("min", "amt")},
        filter_sql="status = 'open'",
    )
    # commit 1: k=3 enters scope (its 5.0 becomes min('a'));
    # commit 2: k=3 leaves again — net: invisible; plus k=1 (the real
    # in-scope min) leaves scope in commit 2
    src.update_where({"status": "'open'"}, "k = 3")
    src.update_where({"status": "'closed'"}, "k = 3 OR k = 1")
    rs = run_stream_materialize(
        spark, src.root, mv_root, str(tmp_path / "ck"), row_level=True
    )
    assert rs and rs[-1]["row_level"]
    row = mv.snapshot().where("grp = 'a'").first()
    assert row["n"] == 1 and row["mn"] == 20.0
    assert materialized_info(mv)["last_version"] == src.latest_version()


def test_filter_parse_and_row_local_guards(spark, tmp_path):
    """Round-15 second-review fixes: (a) a filter literal containing
    'GROUP BY' parses (quote-aware clause split); (b) time/randomness-
    dependent filters refuse loudly — refresh re-evaluates the filter
    only over changed rows, so they would silently diverge."""
    srcv, keys, aggs, filt = parse_mv_query(
        "SELECT g, count(*) AS n FROM t "
        "WHERE note = 'a GROUP BY b' GROUP BY g"
    )
    assert filt == "note = 'a GROUP BY b'" and keys == ["g"]
    for bad in (
        "ts > current_date",
        "ts > date_sub(current_timestamp, 7)",
        "rand() < 0.5",
        "ts > curdate()",
        "unix_timestamp() - unix_timestamp(ts) < 3600",
    ):
        with pytest.raises(ValueError, match="ROW-LOCAL"):
            parse_mv_query(
                f"SELECT g, count(*) AS n FROM t WHERE {bad} GROUP BY g"
            )
    # the guard reads function calls, not text: a literal 'now' and a
    # unix_timestamp of a column are row-local
    for good in ("status <> 'now'", "unix_timestamp(ts) > 0"):
        assert parse_mv_query(
            f"SELECT g, count(*) AS n FROM t WHERE {good} GROUP BY g"
        )[3] == good
    # the API face refuses too
    src = VersionedTable.create(
        spark, str(tmp_path / "s"),
        spark.createDataFrame([(1, "g", 1.0)], "k int, grp string, amt double"),
        key_col="k",
    )
    with pytest.raises(ValueError, match="ROW-LOCAL"):
        create_materialized(
            spark, str(tmp_path / "mv"), src.root, ["grp"],
            {"n": ("count", None)}, filter_sql="amt > rand()",
        )


def test_show_create_mv_second_review_fixes(spark, tmp_path):
    """(a) A table merely carrying a hand-set ivm.source property falls
    through to the plain rendering (no KeyError); (b) an MV's user
    properties and constraints survive the SHOW CREATE round-trip."""
    from database_anonymiser_spark.sql_dml import execute_utility

    t = VersionedTable.create(
        spark, str(tmp_path / "plain"),
        spark.createDataFrame([(1, 2.0)], "k int, v double"), key_col="k",
    )
    t.set_properties({"ivm.source": "/tmp/fake"})
    views = {"p": {"root": str(t.root), "pinned": False}}
    ddl = execute_utility(spark, "SHOW CREATE TABLE p", views)["rows"][0][
        "createtab_stmt"
    ]
    assert ddl.startswith("CREATE TABLE p (")  # plain path, no crash

    src = VersionedTable.create(
        spark, str(tmp_path / "s"),
        spark.createDataFrame([(1, "g", 1.0)], "k int, grp string, amt double"),
        key_col="k",
    )
    mv_root = str(tmp_path / "mv")
    mv = create_materialized(
        spark, mv_root, src.root, ["grp"], {"n": ("count", None)}
    )
    mv.set_properties({"owner": "team-a"})
    views = {
        "s": {"root": str(src.root), "pinned": False},
        "m": {"root": mv_root, "pinned": False},
    }
    ddl = execute_utility(spark, "SHOW CREATE TABLE m", views)["rows"][0][
        "createtab_stmt"
    ]
    assert "CREATE MATERIALIZED VIEW m" in ddl
    assert "SET TBLPROPERTIES ('owner' = 'team-a')" in ddl
    assert "ivm." not in ddl.split("TBLPROPERTIES")[1]  # contract not re-set
