"""Incremental materialized views (round 14): refresh-by-delta must
equal a from-scratch recompute after every mutation class the source
can undergo, at O(changes) cost, with the watermark advancing
atomically inside the delta-merge commit."""

from __future__ import annotations

import pytest

from database_anonymiser_spark.sources.materialized import (
    create_materialized,
    materialized_info,
    parse_mv_query,
    refresh_materialized,
)
from database_anonymiser_spark.sources.versioned import VersionedTable

# the CLI writes its report to the working directory without --report
pytestmark = pytest.mark.usefixtures("in_tmp_path")


def _mv_visible(mv, keys, aggs):
    """The view's user-facing columns (hidden companions dropped)."""
    return mv.snapshot().select(*keys, *aggs.keys())


def _recompute(src, keys, aggs):
    from database_anonymiser_spark.sources.materialized import _full_frame

    return _full_frame(src.snapshot(), keys, aggs).select(*keys, *aggs)


def _assert_equal(got_df, want_df, keys, float_cols=()):
    got = {tuple(r[k] for k in keys): r.asDict() for r in got_df.collect()}
    want = {tuple(r[k] for k in keys): r.asDict() for r in want_df.collect()}
    assert sorted(got.keys()) == sorted(want.keys()), (
        sorted(got.keys()), sorted(want.keys())
    )
    for k, w in want.items():
        g = got[k]
        for c, wv in w.items():
            if c in float_cols and wv is not None:
                assert g[c] == pytest.approx(wv, rel=1e-9), (k, c, g[c], wv)
            else:
                assert g[c] == wv, (k, c, g[c], wv)


AGGS = {
    "n_rows": ("count", None),
    "n_vals": ("count", "val"),
    "total": ("sum", "amt"),
    "mean_amt": ("avg", "amt"),
}


@pytest.fixture()
def src(spark, tmp_path):
    rows = [
        # (k, grp, amt, val) — grp 'c' has a NULL val and NULL amt row
        (1, "a", 10.0, 1), (2, "a", 20.0, 2), (3, "b", 5.0, None),
        (4, "b", 7.0, 3), (5, "c", None, None), (6, "c", 2.0, 4),
    ]
    t = VersionedTable.create(
        spark, str(tmp_path / "src"),
        spark.createDataFrame(rows, "k int, grp string, amt double, val int"),
        key_col="k",
    )
    return t


def test_create_matches_recompute(spark, src, tmp_path):
    mv = create_materialized(
        spark, str(tmp_path / "mv"), src.root, ["grp"], AGGS
    )
    _assert_equal(
        _mv_visible(mv, ["grp"], AGGS),
        _recompute(src, ["grp"], AGGS),
        ["grp"], float_cols=("total", "mean_amt"),
    )
    info = materialized_info(mv)
    assert info["last_version"] == 0 and info["keys"] == ["grp"]


def test_refresh_tracks_every_mutation_class(spark, src, tmp_path):
    mv = create_materialized(
        spark, str(tmp_path / "mv"), src.root, ["grp"], AGGS
    )

    def check():
        refresh_materialized(spark, str(tmp_path / "mv"))
        _assert_equal(
            _mv_visible(mv, ["grp"], AGGS),
            _recompute(src, ["grp"], AGGS),
            ["grp"], float_cols=("total", "mean_amt"),
        )

    # append: existing group + a brand-new group
    src.append(spark.createDataFrame(
        [(7, "a", 1.5, 9), (8, "d", 100.0, None)],
        "k int, grp string, amt double, val int",
    ))
    check()
    # scoped update (value change inside a group)
    src.update_where({"amt": "amt + 1"}, "grp = 'b'")
    check()
    # update that MOVES rows between groups
    src.update_where({"grp": "'a'"}, "grp = 'c'")
    check()
    # delete that empties a group entirely ('d' vanishes from the view)
    src.delete_where("grp = 'd'")
    assert refresh_materialized(spark, str(tmp_path / "mv"))["refreshed"]
    assert mv.snapshot().where("grp = 'd'").count() == 0
    _assert_equal(
        _mv_visible(mv, ["grp"], AGGS),
        _recompute(src, ["grp"], AGGS),
        ["grp"], float_cols=("total", "mean_amt"),
    )
    # merge (upsert) on the source
    src.merge(
        spark.createDataFrame(
            [(1, "b", 50.0, 5), (99, "e", 3.0, None)],
            "k int, grp string, amt double, val int",
        ),
        when_matched="update",
    )
    check()
    # NULL-handling: a row whose agg inputs are NULL still counts in
    # n_rows but not in n_vals / mean_amt
    src.append(spark.createDataFrame(
        [(100, "e", None, None)], "k int, grp string, amt double, val int"
    ))
    check()


def test_refresh_idempotent_and_atomic_watermark(spark, src, tmp_path):
    mv = create_materialized(
        spark, str(tmp_path / "mv"), src.root, ["grp"],
        {"n_rows": ("count", None)},
    )
    src.delete_where("k = 1")
    r = refresh_materialized(spark, str(tmp_path / "mv"))
    assert r["refreshed"] and r["groups_changed"] == 1
    v_after = mv.latest_version()
    # the watermark advanced INSIDE the delta-merge commit: a second
    # refresh sees head == last and commits nothing
    r2 = refresh_materialized(spark, str(tmp_path / "mv"))
    assert not r2["refreshed"]
    assert mv.latest_version() == v_after
    # ... so the merge commit itself carries the properties
    meta = mv.commit_meta(v_after)
    assert meta["properties"]["ivm.last_version"] == str(
        src.latest_version()
    )


def test_refresh_cost_is_o_changes(spark, tmp_path):
    """A trickle change against a large banded source refreshes by
    reading the CHANGED files only — never the table."""
    import database_anonymiser_spark.sources.versioned as V

    t = VersionedTable.create(
        spark, str(tmp_path / "big"),
        spark.range(0, 20_000).selectExpr(
            "id AS k", "CAST(id % 50 AS INT) AS grp", "CAST(id AS DOUBLE) AS amt"
        ).coalesce(1),
        key_col="k",
    )
    for b in (100_000, 200_000, 300_000):
        t.append(
            spark.range(b, b + 20_000).selectExpr(
                "id AS k", "CAST(id % 50 AS INT) AS grp",
                "CAST(id AS DOUBLE) AS amt",
            ).coalesce(1)
        )
    mv = create_materialized(
        spark, str(tmp_path / "mv"), t.root, ["grp"],
        {"n": ("count", None), "s": ("sum", "amt")},
    )
    # trickle: touch ONE band
    t.update_where(
        {"amt": "amt + 1"}, "k >= 300000 AND k < 300010",
        prune={"k": (300_000, 300_009)},
    )
    f0 = V.DATA_FILES_READ
    r = refresh_materialized(spark, str(tmp_path / "mv"))
    reads = V.DATA_FILES_READ - f0
    assert r["refreshed"] and r["groups_changed"] == 10
    # diff reads the rewritten band under both versions (2) and the MV
    # merge rewrites its own small files — never the 3 untouched source
    # bands (a recompute would read all 4+)
    assert reads <= 4, reads
    got = {r["grp"]: r["s"] for r in mv.snapshot().collect()}
    want = {
        r["grp"]: r["s"]
        for r in t.snapshot().groupBy("grp").agg(
            __import__("pyspark.sql.functions", fromlist=["sum"]).sum("amt").alias("s")
        ).collect()
    }
    for g, s in want.items():
        assert got[g] == pytest.approx(s, rel=1e-12)


def test_refusals(spark, src, tmp_path):
    # unknown aggregate kinds refuse with the supported list
    with pytest.raises(ValueError, match="unsupported aggregate"):
        create_materialized(
            spark, str(tmp_path / "mv1"), src.root, ["grp"],
            {"m": ("median", "amt")},
        )
    # exact COUNT(DISTINCT) refuses at the SQL parser with the
    # APPROX_COUNT_DISTINCT pointer (bounded-state maintainability)
    with pytest.raises(ValueError, match="APPROX_COUNT_DISTINCT"):
        parse_mv_query(
            "SELECT grp, count(DISTINCT val) AS d FROM t GROUP BY grp"
        )
    # NULL group keys refuse with the coalesce guidance
    src.append(spark.createDataFrame(
        [(50, None, 1.0, 1)], "k int, grp string, amt double, val int"
    ))
    with pytest.raises(ValueError, match="coalesce"):
        create_materialized(
            spark, str(tmp_path / "mv2"), src.root, ["grp"],
            {"n": ("count", None)},
        )
    # a plain table is not a materialized view
    with pytest.raises(ValueError, match="not a materialized view"):
        refresh_materialized(spark, src.root)


def test_mv_rejects_direct_mutation(spark, src, tmp_path):
    """Direct DML and content-rewriting maintenance on a materialized
    view refuse (derived state + a watermark that would mask the
    divergence); layout maintenance stays allowed."""
    from database_anonymiser_spark.sql_dml import (
        SqlDmlError,
        execute_dml,
        execute_utility,
    )

    mv_root = tmp_path / "mv"
    create_materialized(
        spark, str(mv_root), src.root, ["grp"], {"n": ("count", None)}
    )
    views = {
        "mv": {"root": str(mv_root), "pinned": False},
        "src_t": {"root": str(src.root), "pinned": False},
    }
    for stmt in (
        "UPDATE mv SET n = 0",
        "DELETE FROM mv WHERE n > 0",
        "INSERT INTO mv (grp, n) VALUES ('x', 1)",
    ):
        with pytest.raises(SqlDmlError, match="MATERIALIZED VIEW"):
            execute_dml(spark, stmt, views)
    for stmt in (
        "TRUNCATE TABLE mv",
        "RESTORE mv TO VERSION AS OF 0",
        "ERASE FROM mv WHERE n > 0",
    ):
        with pytest.raises(SqlDmlError, match="MATERIALIZED VIEW"):
            execute_utility(spark, stmt, views)
    # layout maintenance is row-preserving: allowed
    frag = execute_utility(spark, "OPTIMIZE mv", views)
    assert frag["op"] in ("compact", "optimize_cluster")


def test_e2e_sql_materialized_view(spark, tmp_path):
    """CREATE MATERIALIZED VIEW / REFRESH MATERIALIZED VIEW through the
    CLI: create against a versioned source, mutate the source with SQL
    DML, refresh, and read the view — visible columns only."""
    from database_anonymiser_spark.cli import main as cli_main

    data_dir = tmp_path / "data"
    data_dir.mkdir()
    spark.range(1).write.parquet(str(data_dir / "dummy.parquet"))
    src_root = tmp_path / "sales"
    VersionedTable.create(
        spark, str(src_root),
        spark.createDataFrame(
            [(1, "eu", 10.0), (2, "eu", 20.0), (3, "us", 5.0)],
            "k int, region string, amt double",
        ),
        key_col="k",
    )
    mv_root = tmp_path / "mv"
    script = tmp_path / "mv.sql"
    script.write_text(
        f"CREATE MATERIALIZED VIEW sales_by_region USING VERSIONED "
        f"LOCATION '{mv_root}' AS SELECT region, count(*) AS n, "
        f"sum(amt) AS total FROM sales GROUP BY region;\n"
        "UPDATE sales SET amt = amt + 100 WHERE k = 3;\n"
        "INSERT INTO sales (k, region, amt) VALUES (4, 'apac', 7.0);\n"
        "REFRESH MATERIALIZED VIEW sales_by_region;\n"
    )
    rc = cli_main([
        "--sqlFile", str(script),
        "--data", str(data_dir),
        "--versionedTable", f"sales={src_root}",
    ])
    assert rc == 0
    mv = VersionedTable(spark, mv_root)
    rows = {r["region"]: (r["n"], r["total"])
            for r in mv.snapshot().select("region", "n", "total").collect()}
    assert rows == {"eu": (2, 30.0), "us": (1, 105.0), "apac": (1, 7.0)}
    # a second REFRESH with no source changes is a recorded no-op
    rc = cli_main([
        "--sql", "REFRESH MATERIALIZED VIEW sales_by_region",
        "--data", str(data_dir),
        "--versionedTable", f"sales={src_root}",
        "--versionedTable", f"sales_by_region={mv_root}",
    ])
    assert rc == 0
    # plain-view source refuses with the change-feed explanation
    rc = cli_main([
        "--sql",
        f"CREATE MATERIALIZED VIEW bad USING VERSIONED LOCATION "
        f"'{tmp_path / 'bad'}' AS SELECT region, count(*) AS n "
        f"FROM dummy GROUP BY region",
        "--data", str(data_dir),
        "--versionedTable", f"sales={src_root}",
    ])
    assert rc == 2


def test_e2e_sql_drop(spark, src, tmp_path):
    """DROP TABLE / DROP MATERIALIZED VIEW deregister only — the data
    stays on disk (external-location semantics) and re-registration is
    the undo."""
    from database_anonymiser_spark.sql_dml import (
        claim_utility,
        execute_utility,
    )

    mv_root = tmp_path / "mv"
    create_materialized(
        spark, str(mv_root), src.root, ["grp"], {"n": ("count", None)}
    )
    views = {
        "mv": {"root": str(mv_root), "pinned": False},
        "src_t": {"root": str(src.root), "pinned": False},
    }
    frag = execute_utility(spark, "DROP MATERIALIZED VIEW mv", views)
    assert frag["op"] == "drop_table" and frag["data_retained"]
    assert "mv" not in views
    # the data survives: re-open directly
    assert VersionedTable(spark, mv_root).snapshot().count() == 3
    frag = execute_utility(spark, "DROP TABLE IF EXISTS src_t", views)
    assert views == {}
    assert src.snapshot().count() == 6
    # an unregistered name is NOT claimed (falls through to Spark SQL)
    assert claim_utility("DROP TABLE nope", views) is None


def test_rollback_refreshes_dependent_mv(spark, src, tmp_path):
    """Round-14 review fix: --sqlRollbackOnError restores the MV's
    SOURCE; a registered materialized view over it is then re-refreshed
    so it lands back on the restored truth instead of silently serving
    aggregates from the rolled-back changes."""
    from database_anonymiser_spark.cli import main as cli_main

    data_dir = tmp_path / "data"
    data_dir.mkdir()
    spark.range(1).write.parquet(str(data_dir / "dummy.parquet"))
    mv_root = tmp_path / "mv"
    mv = create_materialized(
        spark, str(mv_root), src.root, ["grp"], {"total": ("sum", "amt")}
    )
    want = {r["grp"]: r["total"]
            for r in mv.snapshot().select("grp", "total").collect()}
    script = tmp_path / "s.sql"
    script.write_text(
        "UPDATE src_t SET amt = amt + 1000 WHERE grp = 'a';\n"
        "REFRESH MATERIALIZED VIEW mv;\n"
        "UPDATE src_t SET nope = 1;\n"  # fails: unknown column
    )
    rc = cli_main([
        "--sqlFile", str(script), "--sqlRollbackOnError",
        "--data", str(data_dir),
        "--versionedTable", f"src_t={src.root}",
        "--versionedTable", f"mv={mv_root}",
    ])
    assert rc == 2
    # the source is restored AND the view re-reflects the restored state
    got = {r["grp"]: r["total"]
           for r in mv.snapshot().select("grp", "total").collect()}
    assert got == want


def test_stream_materialize(spark, src, tmp_path):
    """run_stream_materialize: the CDF stream drives refreshes; after a
    drain the view equals the recompute; a second drain with no source
    movement refreshes nothing; a fresh mutation + drain catches up."""
    from database_anonymiser_spark.streaming.pipeline import (
        run_stream_materialize,
    )

    mv_root = tmp_path / "mv"
    mv = create_materialized(
        spark, str(mv_root), src.root, ["grp"],
        {"n": ("count", None), "total": ("sum", "amt")},
    )
    ck = str(tmp_path / "ck")
    src.update_where({"amt": "amt * 2"}, "grp = 'a'")
    src.delete_where("grp = 'c'")
    rs = run_stream_materialize(spark, src.root, str(mv_root), ck)
    assert rs and rs[-1]["to_version"] == src.latest_version()
    _assert_equal(
        _mv_visible(mv, ["grp"], {"n": 0, "total": 0}),
        _recompute(src, ["grp"], {"n": ("count", None),
                                  "total": ("sum", "amt")}),
        ["grp"], float_cols=("total",),
    )
    # idle drain: no refresh recorded, no view commit
    v = mv.latest_version()
    rs = run_stream_materialize(spark, src.root, str(mv_root), ck)
    assert rs == [] and mv.latest_version() == v
    # catch-up after another mutation
    src.append(spark.createDataFrame(
        [(200, "z", 9.0, 1)], "k int, grp string, amt double, val int"
    ))
    rs = run_stream_materialize(spark, src.root, str(mv_root), ck)
    assert rs and rs[-1]["to_version"] == src.latest_version()
    row = mv.snapshot().where("grp = 'z'").collect()[0]
    assert row["n"] == 1 and row["total"] == 9.0


def test_parse_mv_query():
    srcv, keys, aggs, _f = parse_mv_query(
        "SELECT grp, region, count(*) AS n, sum(a * b) AS s, "
        "avg(x) AS m FROM orders_v GROUP BY grp, region"
    )
    assert srcv == "orders_v" and keys == ["grp", "region"]
    assert aggs == {
        "n": ("count", None), "s": ("sum", "a * b"), "m": ("avg", "x"),
    }
    # round 15: min/max parse as first-class aggregates now
    _, _, mm, _f2 = parse_mv_query("SELECT g, max(x) AS m FROM v GROUP BY g")
    assert mm == {"m": ("max", "x")}
    with pytest.raises(ValueError, match="GROUP BY"):
        parse_mv_query("SELECT count(*) AS n FROM v")
    with pytest.raises(ValueError, match="must equal GROUP BY"):
        parse_mv_query("SELECT a, count(*) AS n FROM v GROUP BY b")
    with pytest.raises(ValueError, match="select item"):
        parse_mv_query("SELECT g, x + 1 FROM v GROUP BY g")
