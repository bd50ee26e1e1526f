"""One file-skipping rule for versioned tables: every site that answers
"may this file hold a matching row?" — ``files_matching``, the pruned
reads, the ``format("versioned")`` pushdown reader, SQL ``EXPLAIN``,
merge scoping and the update/delete OCC test — picks the same files for
the same predicate, because each builds the one ``_SkipSpec``."""

from __future__ import annotations

import datetime
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    GreaterThanOrEqual,
    In,
    IsNull,
    LessThanOrEqual,
)

import database_anonymiser_spark.sources.versioned as V
from database_anonymiser_spark.sources.spark_datasource import (
    VersionedDataSource,
    _PushdownSnapshotReader,
)
from database_anonymiser_spark.sources.versioned import VersionedTable
from database_anonymiser_spark.sql_dml import execute_dml, execute_utility

SCHEMA = "a int, b int, n int, tag string"


def _rows(f: int) -> list[tuple]:
    """File ``f`` of the fixture: a = 10f..10f+9 (key-clustered), b = 0..9,
    n all NULL in file 1 and NULL on even rows of file 2, tag = t{4i+f}
    (every file's [min, max] tag range overlaps the others)."""
    out = []
    for i in range(10):
        n = None if f == 1 or (f == 2 and i % 2 == 0) else i
        out.append((10 * f + i, i, n, f"t{4 * i + f:02d}"))
    return out


@pytest.fixture()
def table(spark, tmp_path):
    spark.dataSource.register(VersionedDataSource)
    t = VersionedTable.create(
        spark, str(tmp_path / "t"),
        spark.createDataFrame(_rows(0), SCHEMA).coalesce(1),
        key_col=["a", "b"], stats_cols=("n", "tag"),
    )
    for f in (1, 2, 3):
        t.append(spark.createDataFrame(_rows(f), SCHEMA).coalesce(1))
    t.analyze(bloom_cols=("tag", ("a", "b")))
    assert len(t._live_entries()) == 4
    return t


def _names(entries) -> set:
    return {os.path.basename(e["path"]) for e in entries}


def _files(t) -> dict:
    """{fixture file number: data file name} — file f holds a = 10f.."""
    return {
        e["key_min"] // 10: os.path.basename(e["path"])
        for e in t._live_entries()
    }


def _pushdown(t, filters) -> set:
    r = _PushdownSnapshotReader(str(t.root))
    r.pushFilters(filters)
    return {
        os.path.basename(f.path) for p in r.partitions() for f in getattr(p, "files", ())
    }


def _read_files(run) -> int:
    """Files a pruned read hands to the scan (``DATA_FILES_READ``)."""
    f0 = V.DATA_FILES_READ
    run()
    return V.DATA_FILES_READ - f0


def _explain(spark, t, where: str) -> int:
    frag = execute_utility(
        spark, f"EXPLAIN SELECT a FROM t WHERE {where}",
        {"t": {"root": str(t.root), "pinned": False}},
    )
    return frag["files_would_read"]


def _scope_merge(spark, t, scope) -> int:
    """Files an empty-source merge touches for a by-source ``scope`` —
    the merge's own scoping spec (restored afterwards)."""
    v0 = t.latest_version()
    v = t.merge(
        spark.createDataFrame([], SCHEMA),
        not_matched_by_source=[("update", "false", {"n": "t.n"})],
        by_source_scope=scope,
    )
    touched = t.commit_meta(v)["metrics"]["files_touched"]
    t.restore(v0)
    return touched


CASES = [
    # (prune dict, SQL WHERE, pushdown filters, expected files)
    ("range", {"a": (15, 24)}, "a BETWEEN 15 AND 24",
     [GreaterThanOrEqual(("a",), 15), LessThanOrEqual(("a",), 24)], {1, 2}),
    ("isnull", {"n": "isnull"}, "n IS NULL", [IsNull(("n",))], {1, 2}),
    ("in_clustered", {"a": {31, 33}}, "a IN (31, 33)",
     [In(("a",), (31, 33))], {3}),
]


@pytest.mark.parametrize("name,prune,where,filters,expect", CASES)
def test_every_site_picks_the_same_files(
    spark, table, name, prune, where, filters, expect
):
    t = table
    order = _files(t)
    want = {order[f] for f in expect}
    assert _names(t.files_matching(prune)) == want
    assert _pushdown(t, filters) == want
    assert _read_files(lambda: t.read_where(prune)) == len(want)
    assert _explain(spark, t, where) == len(want)
    assert _scope_merge(spark, t, prune) == len(want)
    # the pruned read's rows are exactly the predicate's
    got = sorted(tuple(r) for r in t.read_where(prune).collect())
    assert got == sorted(tuple(r) for r in t.snapshot().where(where).collect())


def test_in_list_on_a_bloom_column(spark, table):
    """A point set on the unclustered ``tag`` column: range stats keep
    every file, the per-column bloom keeps the one holding the values —
    at every site that takes the points, SQL EXPLAIN and DELETE included
    (a string IN list on a string column is a point set)."""
    t = table
    order = _files(t)
    vals = {"t09", "t13"}  # both in file 1 only
    want = {order[1]}
    assert _names(t.files_matching_any("tag", sorted(vals))) == want
    assert _names(t.files_matching({"tag": vals})) == want
    assert _pushdown(t, [In(("tag",), tuple(sorted(vals)))]) == want
    assert _read_files(lambda: t.read_matching_any("tag", sorted(vals))) == 1
    assert _read_files(lambda: t.read_where({"tag": vals})) == 1
    assert _scope_merge(spark, t, {"tag": vals}) == 1
    assert _explain(spark, t, "tag IN ('t09', 't13')") == 1
    assert sorted(r.tag for r in t.read_where({"tag": vals}).collect()) == [
        "t09", "t13"
    ]
    n = t.row_count()
    f0 = V.DATA_FILES_READ
    frag = execute_dml(
        spark, "DELETE FROM t WHERE tag IN ('t09', 't13')",
        {"t": {"root": str(t.root), "pinned": False}},
    )
    assert V.DATA_FILES_READ - f0 == 1
    assert frag["metrics"]["files_touched"] == 1
    assert t.row_count() == n - 2


def test_point_row_test_is_one_sql_expression(spark):
    """A points term's row test is one ``IN`` parsed from SQL text (an
    ``isin`` of literals costs one py4j call per value) and selects what
    ``isin`` selects, for every literal type it renders."""
    vals = ["o'k", "back\\slash", "é中", "", 'q"', "t\nu"]
    df = spark.createDataFrame(
        [(i, s, float(i) / 2, i % 2 == 0, datetime.date(2020, 1, i + 1))
         for i, s in enumerate([*vals, "miss"])],
        "i bigint, s string, d double, b boolean, t date",
    )
    for col, pts in (
        ("s", vals), ("i", [0, 3, 2**40]), ("d", [0.5, 1e20, 2.0]),
        ("b", [True]), ("t", [datetime.date(2020, 1, 2)]),  # takes isin
    ):
        got = V._SkipSpec([(col, "points", pts)], "/", None).row_predicate()
        want = df.where(F.col(col).isin(pts))
        assert sorted(df.where(got).collect()) == sorted(want.collect()), col
    assert "'o\\'k'" in str(V._isin("s", ["o'k"]))


def test_tuple_points_use_the_tuple_bloom(spark, table):
    """A composite point set: (10, 1) has both components in file 1, in
    different rows, so only the tuple bloom rules file 1 out; (25, 5) is
    a real row of file 2. read_matching_tuples, files_matching with a
    column-tuple key and a points merge all pick file 2 alone."""
    t = table
    order = _files(t)
    tups = {(10, 1), (25, 5)}
    want = {order[2]}
    assert _names(t.files_matching({("a", "b"): tups})) == want
    assert _names(
        t.files_matching({"a": {10, 25}, "b": {1, 5}})
    ) == {order[1], order[2]}  # per-column tests alone admit file 1
    got = []
    assert _read_files(
        lambda: got.extend(t.read_matching_tuples(["a", "b"], tups).collect())
    ) == 1
    assert [(r.a, r.b) for r in got] == [(25, 5)]
    assert _scope_merge(spark, t, {("a", "b"): tups}) == 1
    v0 = t.latest_version()
    v = t.merge(
        spark.createDataFrame([(10, 1, 7, "x"), (25, 5, 7, "y")], SCHEMA),
        skip_by="points",
    )
    m = t.commit_meta(v)["metrics"]
    assert m["skip_by"] == "points" and m["files_touched"] == 1
    t.restore(v0)
    # pushdown and SQL cannot express a tuple: they prune per column
    assert _pushdown(
        t, [In(("a",), (10, 25)), In(("b",), (1, 5))]
    ) == {order[1], order[2]}


def test_mixed_type_value_list_keeps_every_file(spark, table):
    """Values that cannot be ordered drop the term from the file test
    (conservative): every site keeps every file and none raises — the
    point lookup used to raise TypeError on its sort."""
    t = table
    mixed = [31, "33"]
    assert len(t.files_matching_any("a", mixed)) == 4
    assert len(t.files_matching({"a": set(mixed)})) == 4
    assert len(_pushdown(t, [In(("a",), tuple(mixed))])) == 4
    assert _read_files(lambda: t.read_where({"a": set(mixed)})) == 4
    assert _explain(spark, t, "a IN (31, '33')") == 4
    assert _scope_merge(spark, t, {"a": set(mixed)}) == 4
    # the rows still filter exactly (Spark coerces '33' to the int key)
    assert sorted(r.a for r in t.read_where({"a": set(mixed)}).collect()) == [
        31, 33
    ]


def test_empty_point_set_admits_nothing(spark, table):
    t = table
    assert t.files_matching_any("a", []) == []
    assert t.files_matching({"a": {None}}) == []
    assert t.read_matching_any("a", [None]).count() == 0


@pytest.mark.parametrize("dv", [False, True])
def test_delete_with_a_point_set_prune(spark, monkeypatch, tmp_path, dv):
    """``delete_where(prune={col: set})`` is the point-lookup delete:
    range stats and the bloom pick the touched files — the set
    ``files_matching_any`` names — on the rewrite and the DV path (a
    quarter share lets the cost rule pick DVs for 3 of 20 rows; a zero
    budget forces the rewrite)."""
    if not dv:
        monkeypatch.setattr(V, "DV_COLLECT_CAP", 0)
    monkeypatch.setattr(V, "DV_MAX_SHARE", 0.25)
    spark.dataSource.register(VersionedDataSource)
    t = VersionedTable.create(
        spark, str(tmp_path / "t"),
        spark.createDataFrame(_rows(0), SCHEMA).coalesce(1),
        key_col=["a", "b"], stats_cols=("tag",),
    )
    for f in (1, 2, 3):
        t.append(spark.createDataFrame(_rows(f), SCHEMA).coalesce(1))
    t.analyze(bloom_cols=("tag",))
    gone = ["t09", "t13", "t14"]  # files 1 and 2
    expect = t.files_matching_any("tag", gone)
    assert len(expect) == 2
    before = t.row_count()
    f0 = V.DATA_FILES_READ
    v = t.delete_where(f"tag IN ('{gone[0]}', '{gone[1]}', '{gone[2]}')",
                       prune={"tag": set(gone)})
    assert V.DATA_FILES_READ - f0 == len(expect)
    if not dv:
        assert t.commit_meta(v)["metrics"]["files_touched"] == len(expect)
    assert t.row_count() == before - 3
    assert not set(r.tag for r in t.snapshot().collect()) & set(gone)
    with pytest.raises(TypeError):
        t.delete_where("true", prune_values=("tag", gone))


@pytest.mark.parametrize("dv", [False, True])
def test_point_delete_rebases_past_a_bloom_disjoint_winner(
    spark, monkeypatch, tmp_path, dv
):
    """A point-set delete loses an OCC race to an append whose file's
    [min, max] covers the deleted values but whose bloom proves them
    absent: the delete's OCC test is the same spec, bloom included, so it
    rebases instead of raising. The cost rule picks DVs for 1 of 10
    rows; a zero budget forces the rewrite."""
    if not dv:
        monkeypatch.setattr(V, "DV_COLLECT_CAP", 0)
    t = VersionedTable.create(
        spark, str(tmp_path / "t"),
        spark.createDataFrame(_rows(0), SCHEMA).coalesce(1),
        key_col=["a", "b"], stats_cols=("tag",),
    )
    t.append(spark.createDataFrame(_rows(1), SCHEMA).coalesce(1))
    t.analyze(bloom_cols=("tag",))
    w = VersionedTable(spark, str(tmp_path / "t"))
    # the winner's tags t00/t99 span t05 in range, but not in the bloom
    win = spark.createDataFrame(
        [(100, 0, 1, "t00"), (101, 1, 1, "t99")], SCHEMA
    ).coalesce(1)
    orig = V._commit
    fired = {"done": False}

    def interpose(root, version, adds, removes, key_col, **kw):
        if not fired["done"] and kw.get("op") in ("delete_where", "delete_dv"):
            fired["done"] = True
            w.append(win)
        return orig(root, version, adds, removes, key_col, **kw)

    monkeypatch.setattr(V, "_commit", interpose)
    v = t.delete_where("tag = 't05'", prune={"tag": {"t05"}})
    assert fired["done"]
    (added,) = [e for e in t._live_entries() if e["key_min"] == 100]
    assert (added.get("bloom") or {}).get("tag")
    lo, hi = added["stats"]["tag"][:2]
    assert lo < "t05" < hi
    assert t.commit_op(v) == ("delete_dv" if dv else "delete_where")
    tags = {r.tag for r in t.snapshot().collect()}
    assert "t05" not in tags and {"t00", "t99"} <= tags


def test_points_merge_with_a_differently_typed_source_key(spark, tmp_path):
    """A bloom probe hashes ``str(value)``: an INT source key 1 would
    render "1" against the bloom's "1.0". Merge casts its source keys to
    the table's types first, so the points merge probes the bloom with
    1.0 and updates the row rather than skipping its file and inserting
    a duplicate key."""
    sch = "k double, v string"
    t = VersionedTable.create(
        spark, str(tmp_path / "t"),
        spark.createDataFrame([(1.0, "a"), (2.0, "b")], sch).coalesce(1),
        key_col="k",
    )
    t.append(spark.createDataFrame([(10.0, "c")], sch).coalesce(1))
    t.analyze(bloom_cols=("k",))
    v = t.merge(
        spark.createDataFrame([(1, "x")], "k int, v string"), skip_by="points"
    )
    m = t.commit_meta(v)["metrics"]
    assert m["skip_by"] == "points" and m["files_touched"] == 1
    assert sorted(tuple(r) for r in t.snapshot().collect()) == [
        (1.0, "x"), (2.0, "b"), (10.0, "c")
    ]
    # same-typed keys still skip by points, the bloom included
    v = t.merge(spark.createDataFrame([(2.0, "y")], sch), skip_by="points")
    m = t.commit_meta(v)["metrics"]
    assert m["skip_by"] == "points" and m["files_touched"] == 1


def test_created_view_follows_the_session_face(spark, tmp_path):
    """A table CREATE ... CLONE registers through ``execute_utility``
    gets the plain view when the session has not enabled Python filter
    pushdown, so a filtered query followed by an unfiltered count on the
    same view still counts every file."""
    spark.dataSource.register(VersionedDataSource)
    src = VersionedTable.create(
        spark, str(tmp_path / "src"),
        spark.createDataFrame([(1, "a")], "k int, v string").coalesce(1),
        key_col="k",
    )
    src.append(spark.createDataFrame([(2, "b")], "k int, v string").coalesce(1))
    views = {"src": {"root": str(src.root), "pinned": False}}
    conf = "spark.sql.python.filterPushdown.enabled"
    prev = spark.conf.get(conf, "false")
    spark.conf.set(conf, "false")
    try:
        execute_utility(
            spark, f"CREATE TABLE c SHALLOW CLONE src LOCATION "
            f"'{tmp_path / 'c'}'", views,
        )
        assert "c" in views
        assert [r.v for r in spark.sql("SELECT v FROM c WHERE k = 2").collect()] == ["b"]
        assert spark.sql("SELECT count(*) FROM c").first()[0] == 2
    finally:
        spark.conf.set(conf, prev)
