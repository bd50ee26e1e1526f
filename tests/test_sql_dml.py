"""SQL DML front (round 13): UPDATE / DELETE / MERGE INTO statements in
``--sql`` mode route to the versioned table's native ops and land as ONE
commit — CDF-visible, time travel below intact — plus the CLI time-axis
parity pins (``@ts:`` / ``@SINCE..END``).

The e2e cases run through ``cli.main`` exactly as a user would (verdict
r12 ask #1): a SQL UPDATE against a ``--versionedTable`` view must add
one commit, be visible in a ``--changesTable`` CDF view, keep time
travel below it intact, and be REFUSED against non-versioned or pinned
views.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from database_anonymiser_spark.cli import main as cli_main
from database_anonymiser_spark.sql_dml import (
    SqlDmlError,
    _parse_delete,
    _parse_merge,
    _parse_on_keys,
    _parse_update,
    classify_dml,
)
from database_anonymiser_spark.sources.versioned import VersionedTable

# the CLI writes its report to the working directory without --report
pytestmark = pytest.mark.usefixtures("in_tmp_path")


# --------------------------------------------------------------------------
# parser units (Spark's parser: the session fixture, no jobs)
# --------------------------------------------------------------------------

def test_classify():
    assert classify_dml("  update t set a=1") == "update"
    assert classify_dml("DELETE FROM t") == "delete"
    assert classify_dml("merge into t using s on t.k=s.k when matched then delete") == "merge"
    assert classify_dml("SELECT * FROM t") is None
    assert classify_dml("WITH x AS (SELECT 1) SELECT * FROM x") is None


def test_parse_update_basic(spark):
    u = _parse_update("UPDATE cust SET v = upper(v), n = n + 1 WHERE k <= 2;")
    assert u.table == "cust"
    assert u.assignments == {"v": "upper(v)", "n": "n + 1"}
    assert u.predicate == "k <= 2"


def test_parse_update_no_where_and_quoted(spark):
    u = _parse_update("UPDATE `cust` SET `v` = 'a,b=c WHERE x'")
    assert u.table == "cust"
    assert u.assignments == {"v": "'a,b=c WHERE x'"}
    assert u.predicate is None


def test_parse_update_double_quoted_column_refused(spark):
    # "v" is a string literal in Spark SQL, not a column: SET refuses it
    with pytest.raises(SqlDmlError):
        _parse_update('UPDATE `cust` SET "v" = \'a,b=c WHERE x\'')


def test_parse_update_case_when_expr(spark):
    # CASE WHEN inside a SET expr must not confuse the skeleton scan
    u = _parse_update(
        "UPDATE t SET v = CASE WHEN k > 2 THEN 'hi' ELSE v END "
        "WHERE v IN (SELECT x FROM other WHERE y = 1)"
    )
    assert u.assignments["v"].startswith("CASE WHEN")
    assert u.predicate.startswith("v IN (SELECT")


def test_parse_update_self_qualifier_stripped(spark):
    u = _parse_update("UPDATE cust SET cust.v = concat(cust.v, '!') WHERE cust.k = 1")
    assert u.assignments == {"v": "concat(v, '!')"}
    assert u.predicate == "k = 1"
    # only a FIRST name part is a qualifier: a struct field named like
    # the table is kept
    u = _parse_update("UPDATE cust SET v = info.cust.k")
    assert u.assignments == {"v": "info.cust.k"}


def test_parse_update_refusals(spark):
    with pytest.raises(SqlDmlError):  # alias unsupported
        _parse_update("UPDATE cust AS c SET v = 1")
    with pytest.raises(SqlDmlError):  # foreign qualifier on SET column
        _parse_update("UPDATE cust SET other.v = 1")
    with pytest.raises(SqlDmlError):  # duplicate assignment
        _parse_update("UPDATE cust SET v = 1, v = 2")
    with pytest.raises(SqlDmlError):  # empty WHERE
        _parse_update("UPDATE cust SET v = 1 WHERE ")


def test_parse_delete(spark):
    d = _parse_delete("DELETE FROM cust WHERE k = 3")
    assert (d.table, d.predicate) == ("cust", "k = 3")
    d2 = _parse_delete("delete from cust;")
    assert (d2.table, d2.predicate) == ("cust", None)
    with pytest.raises(SqlDmlError):
        _parse_delete("DELETE FROM cust c WHERE c.k = 3")
    # the kept record is frozen: every shape a walk reads is read first
    from database_anonymiser_spark.sql_dml import _prune

    pred = "lower(v) IN ('a', 'b') AND v LIKE 'x%' AND TRUE"
    d3 = _parse_delete(f"DELETE FROM cust WHERE {pred}")
    assert d3.predicate == pred and d3.where.j is None
    assert _prune(d3.where.conjuncts, {}) == {"v": ("x", "y")}


def test_parse_merge_full_grammar(spark):
    m = _parse_merge(
        "MERGE INTO cust AS c USING (SELECT * FROM src WHERE k > 0) AS u "
        "ON c.k = u.k "
        "WHEN MATCHED AND u.op = 'del' THEN DELETE "
        "WHEN MATCHED THEN UPDATE SET v = u.v, n = c.n + 1 "
        "WHEN NOT MATCHED AND u.op != 'del' THEN INSERT (k, v) VALUES (u.k, u.v) "
        "WHEN NOT MATCHED BY SOURCE AND c.k > 100 THEN DELETE"
    )
    assert (m.target, m.target_alias) == ("cust", "c")
    assert m.source_is_query and m.source_alias == "u"
    # aliases rewritten to the native ops' t./s. scopes
    assert m.matched[0] == ("delete", "s.op = 'del'")
    assert m.matched[1] == ("update", None, {"v": "s.v", "n": "t.n + 1"})
    assert m.not_matched == [
        ("insert", "s.op != 'del'", {"k": "s.k", "v": "s.v"})
    ]
    assert m.by_source == [("delete", "t.k > 100")]
    # a source struct field named like the target alias is not renamed
    m = _parse_merge(
        "MERGE INTO cust AS c USING src AS u ON c.k = u.k "
        "WHEN MATCHED THEN UPDATE SET v = u.c.x + 1"
    )
    assert m.matched == [("update", None, {"v": "s.c.x + 1"})]


def test_parse_merge_star_forms_and_named_source(spark):
    m = _parse_merge(
        "MERGE INTO cust t USING src s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    assert not m.source_is_query and m.source_sql == "src"
    assert m.matched == [("update", None, None)]
    assert m.not_matched == [("insert", None, None)]


def test_parse_merge_case_when_in_clause_expr(spark):
    m = _parse_merge(
        "MERGE INTO a t USING b s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET v = CASE WHEN s.v > t.v THEN s.v ELSE t.v END"
    )
    assert m.matched[0][2]["v"].startswith("CASE WHEN")


def test_parse_merge_refusals(spark):
    with pytest.raises(SqlDmlError):  # no WHEN clause
        _parse_merge("MERGE INTO a t USING b s ON t.k = s.k")
    with pytest.raises(SqlDmlError):  # matched INSERT
        _parse_merge(
            "MERGE INTO a t USING b s ON t.k = s.k "
            "WHEN MATCHED THEN INSERT *"
        )
    with pytest.raises(SqlDmlError):  # by-source INSERT
        _parse_merge(
            "MERGE INTO a t USING b s ON t.k = s.k "
            "WHEN NOT MATCHED BY SOURCE THEN INSERT *"
        )
    with pytest.raises(SqlDmlError):  # qualifier collision
        _parse_merge(
            "MERGE INTO a x USING b x ON x.k = x.k "
            "WHEN MATCHED THEN DELETE"
        )
    with pytest.raises(SqlDmlError):  # subquery source needs an alias
        _parse_merge(
            "MERGE INTO a t USING (SELECT 1) ON t.k = s.k "
            "WHEN MATCHED THEN DELETE"
        )
    with pytest.raises(SqlDmlError):  # source-qualified SET column
        _parse_merge(
            "MERGE INTO a t USING b s ON t.k = s.k "
            "WHEN MATCHED THEN UPDATE SET s.v = 1"
        )


def test_parse_on_keys(spark):
    assert _parse_on_keys("t.k = s.kk", "t", "s", ("k",)) == ({"k": "kk"}, [])
    # reversed sides + composite
    assert _parse_on_keys(
        "s.a = t.k1 AND t.k2 = s.b", "t", "s", ("k1", "k2")
    ) == ({"k1": "a", "k2": "b"}, [])
    with pytest.raises(SqlDmlError):  # not the key
        _parse_on_keys("t.other = s.other", "t", "s", ("k",))
    with pytest.raises(SqlDmlError):  # subset of a composite key
        _parse_on_keys("t.k1 = s.k1", "t", "s", ("k1", "k2"))
    # round 14: residual conjuncts ride along, requalified to t./s.
    assert _parse_on_keys(
        "c.k = u.k AND c.v > u.v", "c", "u", ("k",)
    ) == ({"k": "k"}, ["c.v > u.v".replace("c.", "t.").replace("u.", "s.")])
    pairs, res = _parse_on_keys(
        "t.k = s.k AND t.region = 'EU' AND s.amt BETWEEN 1 AND 5",
        "t", "s", ("k",),
    )
    assert pairs == {"k": "k"}
    assert res == ["t.region = 'EU'", "s.amt BETWEEN 1 AND 5"]
    # a non-key qualified equality is residual, not a key pair
    pairs, res = _parse_on_keys(
        "t.k = s.k AND t.v = s.v", "t", "s", ("k",)
    )
    assert pairs == {"k": "k"} and res == ["t.v = s.v"]
    # the key equality must still be present even with residuals
    with pytest.raises(SqlDmlError):
        _parse_on_keys("t.region = 'EU'", "t", "s", ("k",))


# --------------------------------------------------------------------------
# e2e through cli.main (verdict r12 ask #1)
# --------------------------------------------------------------------------

@pytest.fixture()
def dml_env(spark, tmp_path):
    """A versioned table (key k) + a --data dir with a plain parquet
    source table; returns (data_dir, table_root)."""
    data_dir = tmp_path / "data"
    data_dir.mkdir()
    spark.createDataFrame(
        [(2, "two-new"), (3, "three-new"), (99, "ninety-nine")], "k int, v string"
    ).coalesce(1).write.parquet(str(data_dir / "src.parquet"))
    root = tmp_path / "cust"
    VersionedTable.create(
        spark,
        str(root),
        spark.createDataFrame(
            [(1, "one"), (2, "two"), (3, "three"), (4, "four")],
            "k int, v string",
        ),
        key_col="k",
    )
    return data_dir, root


def _run(args: list[str]) -> int:
    return cli_main(args)


def test_cli_parses_a_utility_statement_once(spark, dml_env, monkeypatch):
    """One Spark parse per statement: the router's claim, the rollback
    bookkeeping and the execution read the same utility record."""
    import database_anonymiser_spark.sql_dml as D

    data_dir, root = dml_env
    parsed = []
    real = D._parse

    def counted(text, *args, **kwargs):
        parsed.append(text)
        return real(text, *args, **kwargs)

    monkeypatch.setattr(D, "_parse", counted)
    D._parse_utility.cache_clear()  # no record left by an earlier test
    stmt = "ALTER TABLE cust ADD COLUMN z int"
    rc = _run([
        "--sql", stmt, "--sqlRollbackOnError",
        "--data", str(data_dir), "--versionedTable", f"cust={root}",
    ])
    assert rc == 0
    assert parsed == [stmt]
    assert "z" in VersionedTable(spark, root).snapshot().columns


@pytest.mark.parametrize("stmt", [
    "UPDATE cust SET v = 'x' WHERE k = 1",
    "DELETE FROM cust WHERE k = 4",
    "INSERT INTO cust VALUES (7, 'seven')",
    "MERGE INTO cust AS c USING src AS u ON c.k = u.k "
    "WHEN MATCHED THEN UPDATE SET v = u.v WHEN NOT MATCHED THEN INSERT *",
])
def test_cli_parses_a_dml_statement_once(spark, dml_env, monkeypatch, stmt):
    """One Spark parse per DML statement: the rollback bookkeeping's
    target and the execution read the same memoized record."""
    import database_anonymiser_spark.sql_dml as D

    data_dir, root = dml_env
    parsed = []
    real = D._parse

    def counted(text, *args, **kwargs):
        parsed.append(text)
        return real(text, *args, **kwargs)

    monkeypatch.setattr(D, "_parse", counted)
    D._parse_dml.cache_clear()  # no record left by an earlier test
    before = VersionedTable(spark, root).latest_version()
    rc = _run([
        "--sql", stmt, "--sqlRollbackOnError",
        "--data", str(data_dir), "--versionedTable", f"cust={root}",
    ])
    assert rc == 0
    assert parsed == [stmt]
    assert VersionedTable(spark, root).latest_version() == before + 1


def test_memoized_merge_record_is_not_edited(spark, dml_env):
    """A MERGE with a residual ON rewrites its clauses for execution; the
    memoized record keeps the parsed ones, so the same text runs the
    same way twice."""
    import database_anonymiser_spark.sql_dml as D

    data_dir, root = dml_env
    stmt = ("MERGE INTO cust AS c USING src AS u ON c.k = u.k AND u.v <> 'x' "
            "WHEN MATCHED THEN UPDATE SET v = u.v")
    parsed = D._parse_merge(stmt)
    clauses = list(parsed.matched)
    for _ in range(2):
        assert _run(["--sql", stmt, "--data", str(data_dir),
                     "--versionedTable", f"cust={root}"]) == 0
    assert D._parse_merge(stmt) is parsed and parsed.matched == clauses
    assert parsed.on.j is None  # frozen: no JVM handle is kept


def test_e2e_plain_describe_falls_through_to_spark_sql(dml_env):
    """Round-14 advice fix: round 13 claimed EVERY DESCRIBE/ALTER for
    the utility face, breaking round-12-valid plain Spark SQL like
    ``DESCRIBE src`` — only the engine's own maintenance shapes
    (DESCRIBE HISTORY|DETAIL <versioned view>) may route away."""
    data_dir, root = dml_env
    # plain DESCRIBE of a --data temp view: spark.sql's statement
    rc = _run([
        "--sql", "DESCRIBE src",
        "--data", str(data_dir), "--versionedTable", f"cust={root}",
    ])
    assert rc == 0
    # DESCRIBE <versioned view> without HISTORY/DETAIL: also spark.sql
    rc = _run([
        "--sql", "DESCRIBE cust",
        "--data", str(data_dir), "--versionedTable", f"cust={root}",
    ])
    assert rc == 0
    # the engine's own shape still routes to the utility face
    rc = _run([
        "--sql", "DESCRIBE HISTORY cust",
        "--data", str(data_dir), "--versionedTable", f"cust={root}",
    ])
    assert rc == 0
    # DESCRIBE HISTORY of a NON-versioned view is claimed by nobody —
    # it falls to spark.sql, which refuses it (rc != 0 but not a crash)
    rc = _run([
        "--sql", "DESCRIBE HISTORY src",
        "--data", str(data_dir), "--versionedTable", f"cust={root}",
    ])
    assert rc != 0


def test_e2e_rollback_tracks_quoted_target(spark, dml_env):
    """Round-14 advice fix: --sqlRollbackOnError must restore a table
    targeted through a QUOTED identifier (`cust`) — the old ad-hoc
    regex only matched bare identifiers and left it un-restored."""
    data_dir, root = dml_env
    t = VersionedTable(spark, root)
    v0 = t.latest_version()
    script = (
        "UPDATE `cust` SET v = 'touched' WHERE k = 1;\n"
        "UPDATE cust SET nope = 1;\n"  # unknown column → statement fails
    )
    rc = _run([
        "--sql", script,
        "--data", str(data_dir), "--versionedTable", f"cust={root}",
        "--sqlRollbackOnError",
    ])
    assert rc == 2
    # head restored to the pre-script image (a forward RESTORE commit)
    assert t.latest_version() > v0  # history keeps the attempt
    rows = {r["k"]: r["v"] for r in t.snapshot().collect()}
    assert rows[1] == "one"
    # INSERT INTO TABLE <view>: the tracked target is Spark's parse of it
    v1 = t.latest_version()
    rc = _run([
        "--sql", "INSERT INTO TABLE cust VALUES (5, 'five');\n"
                 "UPDATE cust SET nope = 1;\n",
        "--data", str(data_dir), "--versionedTable", f"cust={root}",
        "--sqlRollbackOnError",
    ])
    assert rc == 2 and t.latest_version() > v1 + 1  # insert, then restore
    assert 5 not in {r["k"] for r in t.snapshot().collect()}


def test_e2e_sql_update_commit_cdf_timetravel(spark, dml_env, tmp_path):
    data_dir, root = dml_env
    t = VersionedTable(spark, root)
    v_before = t.latest_version()
    report = tmp_path / "rep.json"
    rc = _run([
        "--sql", "UPDATE cust SET v = upper(v) WHERE k <= 2",
        "--data", str(data_dir),
        "--versionedTable", f"cust={root}",
        "--report", str(report),
    ])
    assert rc == 0
    # exactly ONE new commit
    assert t.latest_version() == v_before + 1
    rep = json.loads(report.read_text())
    assert rep["op"] == "update" and rep["new_version"] == v_before + 1
    rows = {r["k"]: r["v"] for r in t.snapshot().collect()}
    assert rows == {1: "ONE", 2: "TWO", 3: "three", 4: "four"}
    # time travel below the DML commit is intact
    old = {r["k"]: r["v"] for r in t.snapshot(v_before).collect()}
    assert old == {1: "one", 2: "two", 3: "three", 4: "four"}
    # the commit is CDF-visible through a --changesTable view (bounded
    # slice — the round-13 @SINCE..END axis)
    out = tmp_path / "cdf_out"
    rc = _run([
        "--sql", "SELECT _change_type, k, v FROM cust_changes",
        "--data", str(data_dir),
        "--changesTable",
        f"cust_changes={root}@{v_before + 1}..{v_before + 1}",
        "--out", str(out),
    ])
    assert rc == 0
    cdf = spark.read.parquet(str(out))
    by_type = {
        (r["_change_type"], r["k"]): r["v"] for r in cdf.collect()
    }
    assert by_type[("update_preimage", 1)] == "one"
    assert by_type[("update_postimage", 1)] == "ONE"
    assert by_type[("update_preimage", 2)] == "two"
    assert by_type[("update_postimage", 2)] == "TWO"
    assert not any(k == 3 for (_c, k) in by_type)


def test_e2e_sql_delete(spark, dml_env, tmp_path):
    data_dir, root = dml_env
    t = VersionedTable(spark, root)
    rc = _run([
        "--sql", "DELETE FROM cust WHERE k = 4",
        "--data", str(data_dir),
        "--versionedTable", f"cust={root}",
        "--report", str(tmp_path / "rep.json"),
    ])
    assert rc == 0
    assert sorted(r["k"] for r in t.snapshot().collect()) == [1, 2, 3]


def test_e2e_sql_merge(spark, dml_env, tmp_path):
    data_dir, root = dml_env
    t = VersionedTable(spark, root)
    rc = _run([
        "--sql",
        "MERGE INTO cust AS c USING src AS u ON c.k = u.k "
        "WHEN MATCHED THEN UPDATE SET v = u.v "
        "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (u.k, u.v)",
        "--data", str(data_dir),
        "--versionedTable", f"cust={root}",
        "--report", str(tmp_path / "rep.json"),
    ])
    assert rc == 0
    rows = {r["k"]: r["v"] for r in t.snapshot().collect()}
    assert rows == {
        1: "one", 2: "two-new", 3: "three-new", 4: "four",
        99: "ninety-nine",
    }


def test_e2e_sql_merge_source_column_named_like_a_marker(
    spark, dml_env, tmp_path
):
    """A subquery source may name a column _s, the name of the merge's
    source presence marker."""
    data_dir, root = dml_env
    t = VersionedTable(spark, root)
    rc = _run([
        "--sql",
        "MERGE INTO cust AS c USING (SELECT k, upper(v) AS _s FROM src) s "
        "ON c.k = s.k "
        "WHEN MATCHED THEN UPDATE SET v = s._s "
        "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s._s)",
        "--data", str(data_dir),
        "--versionedTable", f"cust={root}",
        "--report", str(tmp_path / "rep.json"),
    ])
    assert rc == 0
    rows = {r["k"]: r["v"] for r in t.snapshot().collect()}
    assert rows == {
        1: "one", 2: "TWO-NEW", 3: "THREE-NEW", 4: "four",
        99: "NINETY-NINE",
    }


def test_e2e_sql_merge_residual_on(spark, dml_env, tmp_path):
    """Round 14: arbitrary MERGE ON = key equality + residual.  The
    residual gates the matched clauses; a key-matched pair failing it
    routes to the BY SOURCE clauses (full-ON 'not matched by source');
    inserts stay keyed on the key equality (key-uniqueness deviation,
    module docstring)."""
    data_dir, root = dml_env
    t = VersionedTable(spark, root)
    # residual false for k=3: kept unchanged AND s-row (3,'three-new')
    # NOT inserted; k=2 residual true: updated; k=99 unmatched: inserted
    rc = _run([
        "--sql",
        "MERGE INTO cust t USING src s ON t.k = s.k AND t.k <> 3 "
        "WHEN MATCHED THEN UPDATE SET v = s.v "
        "WHEN NOT MATCHED THEN INSERT *",
        "--data", str(data_dir),
        "--versionedTable", f"cust={root}",
    ])
    assert rc == 0
    rows = {r["k"]: r["v"] for r in t.snapshot().collect()}
    assert rows == {
        1: "one", 2: "two-new", 3: "three", 4: "four", 99: "ninety-nine",
    }


def test_e2e_sql_merge_residual_by_source(spark, dml_env, tmp_path):
    data_dir, root = dml_env
    t = VersionedTable(spark, root)
    # source-side residual: only (2,'two-new') passes; k=3 is key-matched
    # but residual-false → treated as not-matched-by-source → deleted,
    # exactly like the never-matched k=1 and k=4
    rc = _run([
        "--sql",
        "MERGE INTO cust t USING src s ON t.k = s.k AND s.v = 'two-new' "
        "WHEN MATCHED THEN UPDATE SET v = concat(s.v, '!') "
        "WHEN NOT MATCHED BY SOURCE THEN DELETE",
        "--data", str(data_dir),
        "--versionedTable", f"cust={root}",
    ])
    assert rc == 0
    rows = {r["k"]: r["v"] for r in t.snapshot().collect()}
    assert rows == {2: "two-new!"}


def test_e2e_sql_merge_residual_clause_conditions_and_dryrun(
    spark, dml_env, tmp_path
):
    """Residual composed with per-clause AND conditions; dryrun counts
    full-ON matches."""
    import json

    data_dir, root = dml_env
    t = VersionedTable(spark, root)
    v0 = t.latest_version()
    report = tmp_path / "rep.json"
    stmt = (
        "MERGE INTO cust t USING src s ON t.k = s.k AND t.k <> 3 "
        "WHEN MATCHED AND s.v = 'two-new' THEN DELETE "
        "WHEN MATCHED THEN UPDATE SET v = s.v "
        "WHEN NOT MATCHED BY SOURCE AND t.k = 3 THEN UPDATE SET "
        "v = 'residual-failed'"
    )
    rc = _run([
        "--sql", stmt, "--sqlDryrun",
        "--data", str(data_dir), "--versionedTable", f"cust={root}",
        "--report", str(report),
    ])
    assert rc == 0
    rep = json.loads(report.read_text())
    # full-ON matched pairs: k=2 only (k=3 fails the residual)
    assert rep["matched_rows"] == 1
    assert rep["unmatched_source_rows"] == 1  # k=99 (key-unmatched)
    assert t.latest_version() == v0

    rc = _run([
        "--sql", stmt,
        "--data", str(data_dir), "--versionedTable", f"cust={root}",
    ])
    assert rc == 0
    rows = {r["k"]: r["v"] for r in t.snapshot().collect()}
    # k=2: matched + clause cond true → deleted; k=3: residual-false →
    # by-source clause (cond t.k = 3 true) updates it; k=1/4: key-
    # unmatched targets, by-source cond false → kept
    assert rows == {1: "one", 3: "residual-failed", 4: "four"}


def test_e2e_refusals(spark, dml_env, tmp_path):
    data_dir, root = dml_env
    t = VersionedTable(spark, root)
    v = t.latest_version()
    # DML against a plain --data parquet view: refused
    rc = _run([
        "--sql", "UPDATE src SET v = 'x'",
        "--data", str(data_dir),
        "--versionedTable", f"cust={root}",
    ])
    assert rc == 2
    # DML against a PINNED versioned view: refused (no write into the past)
    rc = _run([
        "--sql", "DELETE FROM cust_old WHERE k = 1",
        "--data", str(data_dir),
        "--versionedTable", f"cust_old={root}@0",
    ])
    assert rc == 2
    # MERGE whose ON is not the declared key: refused
    rc = _run([
        "--sql",
        "MERGE INTO cust t USING src s ON t.v = s.v "
        "WHEN MATCHED THEN DELETE",
        "--data", str(data_dir),
        "--versionedTable", f"cust={root}",
    ])
    assert rc == 2
    # nothing above committed anything
    assert t.latest_version() == v


def test_e2e_timestamp_pin_and_ts_cdf(spark, dml_env, tmp_path):
    """Round-13 ask #4: @ts:<ISO> pins a timestampAsOf read; a ts: CDF
    bound resolves through starting/endingTimestamp."""
    data_dir, root = dml_env
    t = VersionedTable(spark, root)
    v0 = t.latest_version()
    ts_v0 = json.loads(
        (root / "_log" / f"{v0:08d}.json").read_text()
    )["ts"]
    # advance the table so the pin has something to travel below
    rc = _run([
        "--sql", "DELETE FROM cust WHERE k >= 3",
        "--data", str(data_dir),
        "--versionedTable", f"cust={root}",
    ])
    assert rc == 0
    out = tmp_path / "pin_out"
    rc = _run([
        "--sql", "SELECT k, v FROM cust_asof",
        "--data", str(data_dir),
        "--versionedTable", f"cust_asof={root}@ts:{ts_v0}",
        "--out", str(out),
    ])
    assert rc == 0
    assert spark.read.parquet(str(out)).count() == 4  # pre-delete image
    # bad pin grammar is refused loudly
    with pytest.raises(SystemExit):
        _run([
            "--sql", "SELECT 1",
            "--data", str(data_dir),
            "--versionedTable", f"x={root}@yesterday",
        ])


def test_e2e_sql_script_and_dryrun(spark, dml_env, tmp_path):
    """Round 13 cont.: --sqlFile scripts (semicolon-separated DML, the
    reference's per-table-UPDATE execution shape) and --sqlDryrun (the
    reference's BEGIN..ROLLBACK dry-run: validate + count, zero
    commits)."""
    data_dir, root = dml_env
    t = VersionedTable(spark, root)
    v0 = t.latest_version()

    # dryrun counts without committing
    report = tmp_path / "dry.json"
    rc = _run([
        "--sql", "UPDATE cust SET v = upper(v) WHERE k <= 2",
        "--sqlDryrun",
        "--data", str(data_dir),
        "--versionedTable", f"cust={root}",
        "--report", str(report),
    ])
    assert rc == 0
    rep = json.loads(report.read_text())
    assert rep["mode"] == "sql_dml_dryrun"
    assert rep["rows_would_change"] == 2
    assert t.latest_version() == v0  # nothing committed

    # a typo'd column fails the dry run too
    rc = _run([
        "--sql", "UPDATE cust SET nope = 1", "--sqlDryrun",
        "--data", str(data_dir), "--versionedTable", f"cust={root}",
    ])
    assert rc == 2 and t.latest_version() == v0

    # merge dryrun reports matched / unmatched source rows
    rc = _run([
        "--sql",
        "MERGE INTO cust t USING src s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
        "--sqlDryrun",
        "--data", str(data_dir), "--versionedTable", f"cust={root}",
        "--report", str(report),
    ])
    assert rc == 0
    rep = json.loads(report.read_text())
    assert rep["matched_rows"] == 2 and rep["unmatched_source_rows"] == 1
    assert t.latest_version() == v0

    # multi-statement script: each statement is its own commit, in order
    script = tmp_path / "apply.sql"
    script.write_text(
        "UPDATE cust SET v = upper(v) WHERE k = 1;\n"
        "DELETE FROM cust WHERE k = 4;\n"
        "MERGE INTO cust t USING src s ON t.k = s.k "
        "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v);\n"
    )
    rc = _run([
        "--sqlFile", str(script),
        "--data", str(data_dir), "--versionedTable", f"cust={root}",
        "--report", str(report),
    ])
    assert rc == 0
    assert t.latest_version() == v0 + 3
    rep = json.loads(report.read_text())
    assert rep["mode"] == "sql_dml_script" and len(rep["statements"]) == 3
    rows = {r["k"]: r["v"] for r in t.snapshot().collect()}
    assert rows == {1: "ONE", 2: "two", 3: "three", 99: "ninety-nine"}

    # a script mixing SELECT and DML is refused before anything runs
    script.write_text("SELECT 1;\nDELETE FROM cust WHERE k = 1;")
    rc = _run([
        "--sqlFile", str(script),
        "--data", str(data_dir), "--versionedTable", f"cust={root}",
    ])
    assert rc == 2 and t.latest_version() == v0 + 3


def test_parse_insert(spark):
    from database_anonymiser_spark.sql_dml import _parse_insert

    i = _parse_insert("INSERT INTO cust (k, v) VALUES (7, 'x'), (8, concat('y', 'z'))")
    assert i.table == "cust" and i.columns == ["k", "v"]
    assert i.values == [["7", "'x'"], ["8", "concat('y', 'z')"]]
    q = _parse_insert("INSERT INTO cust SELECT k, v FROM src WHERE k > 0")
    assert q.columns is None and q.query.startswith("SELECT")
    sub = _parse_insert("INSERT INTO cust (v, k) SELECT v, k FROM src")
    assert sub.columns == ["v", "k"]
    with pytest.raises(SqlDmlError):  # arity
        _parse_insert("INSERT INTO cust (k, v) VALUES (1)")
    with pytest.raises(SqlDmlError):  # inconsistent rows
        _parse_insert("INSERT INTO cust (k) VALUES (1), (2, 3)")
    with pytest.raises(SqlDmlError):
        _parse_insert("INSERT INTO cust")


def test_e2e_sql_insert(spark, dml_env, tmp_path):
    """Round 13 cont.: INSERT INTO completes the DML quartet — VALUES and
    query sources, positional semantics, NULL fill for unnamed columns,
    one append commit each."""
    data_dir, root = dml_env
    t = VersionedTable(spark, root)
    v0 = t.latest_version()
    rc = _run([
        "--sql", "INSERT INTO cust (k, v) VALUES (7, 'seven'), (8, upper('eight'))",
        "--data", str(data_dir), "--versionedTable", f"cust={root}",
    ])
    assert rc == 0 and t.latest_version() == v0 + 1
    rows = {r["k"]: r["v"] for r in t.snapshot().collect()}
    assert rows[7] == "seven" and rows[8] == "EIGHT"
    # query source, positional against an explicit column list
    rc = _run([
        "--sql", "INSERT INTO cust (k, v) SELECT k + 100, v FROM src WHERE k = 99",
        "--data", str(data_dir), "--versionedTable", f"cust={root}",
    ])
    assert rc == 0
    assert {r["k"]: r["v"] for r in t.snapshot().collect()}[199] == "ninety-nine"
    # dryrun counts, commits nothing
    v = t.latest_version()
    rc = _run([
        "--sql", "INSERT INTO cust (k, v) VALUES (1000, 'x')", "--sqlDryrun",
        "--data", str(data_dir), "--versionedTable", f"cust={root}",
    ])
    assert rc == 0 and t.latest_version() == v
    # unknown column refused
    rc = _run([
        "--sql", "INSERT INTO cust (k, nope) VALUES (1, 2)",
        "--data", str(data_dir), "--versionedTable", f"cust={root}",
    ])
    assert rc == 2


def test_derive_prune_units(spark):
    from database_anonymiser_spark.sql_dml import derive_prune as dp

    assert dp("k >= 100") == {"k": (100, None)}
    assert dp("k > 5 AND k <= 20") == {"k": (5, 20)}
    assert dp("k = 7 AND v = 'x'") == {"k": (7, 7), "v": ("x", "x")}
    assert dp("100 <= k") == {"k": (100, None)}
    assert dp("k BETWEEN 3 AND 9 AND upper(v) = 'A'") == {"k": (3, 9)}
    assert dp("k IN (4, 2, 9)") == {"k": (2, 9)}
    assert dp("v IS NULL AND k IS NOT NULL") == {"v": "isnull", "k": "notnull"}
    # a range and a nullness on the same column: the range wins
    assert dp("k IS NOT NULL AND k > 3") == {"k": (3, None)}
    # parenthesized conjunct unwraps; unknown shapes contribute nothing
    assert dp("(k >= 1) AND length(v) > 2") == {"k": (1, None)}
    # a top-level OR disables derivation entirely
    assert dp("k > 5 OR v = 'x'") == {}
    # ... but an OR inside parens is just an opaque conjunct
    assert dp("k > 5 AND (v = 'x' OR v = 'y')") == {"k": (5, None)}
    # string with escaped quote; float literal
    assert dp("v = 'it''s' AND p < 1.5") == {"v": ("it's", "it's"), "p": (None, 1.5)}
    assert dp("p < 0.0000000001") == {"p": (None, 1e-10)}
    # column-to-column and subqueries are not prunable
    assert dp("a = b") == {}
    assert dp("k IN (SELECT k FROM t)") == {}
    # "k" is a string literal, not a column
    assert dp("\"k\" = 'k'") == {}


def test_e2e_sql_update_prunes_files(spark, tmp_path):
    """The SQL face derives file skipping from the WHERE: an update
    scoped to one file's key range reads (and rewrites) only that file;
    the other files carry by reference."""
    import database_anonymiser_spark.sources.versioned as V

    data_dir = tmp_path / "data"
    data_dir.mkdir()
    spark.range(1).write.parquet(str(data_dir / "dummy.parquet"))
    root = tmp_path / "t"
    t = VersionedTable.create(
        spark, str(root),
        spark.createDataFrame([(1, "a")], "k long, v string"),
        key_col="k",
    )
    for base in (100, 200, 300):  # three more files, disjoint key ranges
        t.append(
            spark.createDataFrame(
                [(base + i, "x") for i in range(5)], "k long, v string"
            ).coalesce(1)
        )
    f0 = V.DATA_FILES_READ
    rc = _run([
        "--sql", "UPDATE t SET v = upper(v) WHERE k >= 200 AND k <= 204",
        "--data", str(data_dir), "--versionedTable", f"t={root}",
    ])
    assert rc == 0
    assert V.DATA_FILES_READ - f0 == 1  # only the 200-file was read
    m = t.commit_meta(t.latest_version())["metrics"]
    assert m["files_touched"] == 1 and m["files_carried"] == 3
    rows = {r["k"]: r["v"] for r in t.snapshot().collect()}
    assert rows[200] == "X" and rows[100] == "x" and rows[300] == "x"


def test_e2e_double_quoted_name_is_a_string_literal(spark, tmp_path):
    """``"name"`` is a string literal in Spark SQL, so ``"name" =
    'name'`` is TRUE for every row: all three rows change. Reading it as
    the column ``name`` would derive a file-skipping hint that (conjoined
    into the row predicate) changes only the row whose name is 'name'."""
    data_dir = tmp_path / "data"
    data_dir.mkdir()
    spark.range(1).write.parquet(str(data_dir / "dummy.parquet"))
    root = tmp_path / "t"
    t = VersionedTable.create(
        spark, str(root),
        spark.createDataFrame(
            [(1, "name", "x"), (2, "other", "x"), (3, None, "x")],
            "k long, name string, v string",
        ),
        key_col="k",
    )
    rc = _run([
        "--sql", "UPDATE t SET v = 'y' WHERE \"name\" = 'name'",
        "--data", str(data_dir), "--versionedTable", f"t={root}",
    ])
    assert rc == 0
    assert sorted(r["v"] for r in t.snapshot().collect()) == ["y", "y", "y"]


def test_e2e_refused_statement_prints_only_the_error(dml_env, capfd):
    """A statement Spark's parser refuses reaches the user as the one
    ``sql dml:`` line — no ERROR log record or JVM stack trace."""
    data_dir, root = dml_env
    for stmt in (
        "UPDATE cust SET WHERE k = 1",
        "MERGE INTO cust t USING src s ON t.k = s.k",
    ):
        capfd.readouterr()
        rc = _run([
            "--sql", stmt,
            "--data", str(data_dir), "--versionedTable", f"cust={root}",
        ])
        out, err = capfd.readouterr()
        assert rc == 2
        assert "sql dml: [" in err  # Spark's error class leads the message
        for noise in ("SQLQueryContextLogger", "Traceback", "\tat org.apache"):
            assert noise not in out + err


def test_e2e_sql_maintenance_statements(spark, dml_env, tmp_path):
    """Round 13 cont.: Delta's SQL maintenance surface on the native ops
    — ALTER TABLE CLUSTER BY, OPTIMIZE (incremental clustering /
    compaction / ZORDER), VACUUM RETAIN, RESTORE TO VERSION AS OF,
    DESCRIBE HISTORY/DETAIL — each through --sql / --sqlFile."""
    data_dir, root = dml_env
    t = VersionedTable(spark, root)
    v0 = t.latest_version()

    # a maintenance script mixing DML and utility statements
    script = tmp_path / "maint.sql"
    script.write_text(
        "UPDATE cust SET v = upper(v) WHERE k = 1;\n"
        "ALTER TABLE cust CLUSTER BY (k);\n"
        "OPTIMIZE cust;\n"
    )
    rc = _run([
        "--sqlFile", str(script),
        "--data", str(data_dir), "--versionedTable", f"cust={root}",
        "--report", str(tmp_path / "rep.json"),
    ])
    assert rc == 0
    assert t.clustering_cols() == ("k",)
    assert t.commit_op(t.latest_version()) == "optimize_cluster"
    assert t.detail()["files_unclustered"] == 0
    v_clustered = t.latest_version()

    # RESTORE to the pre-script image, as SQL
    rc = _run([
        "--sql", f"RESTORE TABLE cust TO VERSION AS OF {v0}",
        "--data", str(data_dir), "--versionedTable", f"cust={root}",
    ])
    assert rc == 0
    assert {r["v"] for r in t.snapshot().collect()} == {
        "one", "two", "three", "four"
    }

    # VACUUM RETAIN 1 VERSIONS reclaims the superseded files
    rep = tmp_path / "vac.json"
    rc = _run([
        "--sql", "VACUUM cust RETAIN 1 VERSIONS",
        "--data", str(data_dir), "--versionedTable", f"cust={root}",
        "--report", str(rep),
    ])
    assert rc == 0
    assert json.loads(rep.read_text())["files_reclaimed"] > 0

    # DESCRIBE HISTORY lists every commit; DETAIL returns the one dict
    rep2 = tmp_path / "hist.json"
    rc = _run([
        "--sql", "DESCRIBE HISTORY cust",
        "--data", str(data_dir), "--versionedTable", f"cust={root}",
        "--report", str(rep2),
    ])
    assert rc == 0
    hist = json.loads(rep2.read_text())["rows"]
    assert [h["version"] for h in hist] == list(range(t.latest_version() + 1))
    assert any(h["op"] == f"restore_{v0}" for h in hist)
    rc = _run([
        "--sql", "DESCRIBE DETAIL cust",
        "--data", str(data_dir), "--versionedTable", f"cust={root}",
        "--report", str(rep2),
    ])
    assert rc == 0
    assert json.loads(rep2.read_text())["rows"][0]["clustering_cols"] == ["k"]

    # refusals: mutating maintenance on a pinned view; bad shape
    rc = _run([
        "--sql", "OPTIMIZE cust_old",
        "--data", str(data_dir), "--versionedTable", f"cust_old={root}@0",
    ])
    assert rc == 2
    # round 14: ADD COLUMN / SET TBLPROPERTIES are now supported DDL
    # shapes; one the utility face does NOT implement still refuses
    # with the grammar
    rc = _run([
        "--sql", "ALTER TABLE cust SET LOCATION '/elsewhere'",
        "--data", str(data_dir), "--versionedTable", f"cust={root}",
    ])
    assert rc == 2
    _ = v_clustered


def test_e2e_sql_script_rollback_on_error(spark, dml_env, tmp_path):
    """--sqlRollbackOnError: a failing later statement restores every
    table the script already touched to its pre-script version — the
    reference's whole-apply rollback (main.ts:100-133) as forward,
    auditable restore commits."""
    data_dir, root = dml_env
    t = VersionedTable(spark, root)
    v0 = t.latest_version()
    before = {(r["k"], r["v"]) for r in t.snapshot().collect()}
    script = tmp_path / "bad.sql"
    script.write_text(
        "UPDATE cust SET v = upper(v) WHERE k <= 2;\n"
        "DELETE FROM cust WHERE k = 4;\n"
        "UPDATE cust SET nope = 1;\n"  # fails: unknown column
    )
    rc = _run([
        "--sqlFile", str(script), "--sqlRollbackOnError",
        "--data", str(data_dir), "--versionedTable", f"cust={root}",
    ])
    assert rc == 2
    # head snapshot equals the pre-script image ...
    assert {(r["k"], r["v"]) for r in t.snapshot().collect()} == before
    # ... via a restore commit (history keeps the attempted statements)
    assert t.commit_op(t.latest_version()) == f"restore_{v0}"
    assert t.latest_version() == v0 + 3  # update + delete + restore
    # without the flag, partial effects remain (documented)
    script.write_text(
        "DELETE FROM cust WHERE k = 4;\nUPDATE cust SET nope = 1;"
    )
    rc = _run([
        "--sqlFile", str(script),
        "--data", str(data_dir), "--versionedTable", f"cust={root}",
    ])
    assert rc == 2
    assert sorted(r["k"] for r in t.snapshot().collect()) == [1, 2, 3]


def test_in_subquery_materialization(spark, dml_env, tmp_path):
    """[NOT] IN (SELECT ...) predicates in SQL UPDATE/DELETE — the GDPR
    revocation shape — materialize to bounded literal lists with exact
    SQL three-valued semantics (NULLs ride as literal NULL; empty sets
    collapse to the standard FALSE/TRUE constants)."""
    from database_anonymiser_spark.sql_dml import (
        IN_SUBQUERY_CAP,
        _materialize_in_subqueries,
    )

    data_dir, root = dml_env
    t = VersionedTable(spark, root)

    # unit: literal splice, NOT form, empty set, string containing 'IN ('
    got = _materialize_in_subqueries(
        spark, "k IN (SELECT 1 AS x UNION ALL SELECT 3)"
    )
    assert got in ("k IN (1, 3)", "k IN (3, 1)")
    got = _materialize_in_subqueries(
        spark, "upper(v) NOT IN (SELECT 'A' AS x) AND k > 0"
    )
    assert got == "upper(v) NOT IN ('A') AND k > 0"
    got = _materialize_in_subqueries(
        spark, "k IN (SELECT 1 AS x WHERE 1 = 0) OR v = 'z'"
    )
    assert got == "(FALSE) OR v = 'z'"
    got = _materialize_in_subqueries(
        spark, "a = 1 AND k NOT IN (SELECT 1 AS x WHERE 1 = 0)"
    )
    assert got == "a = 1 AND (TRUE)"
    with pytest.raises(SqlDmlError, match="one column"):
        _materialize_in_subqueries(spark, "k IN (SELECT 1 AS a, 2 AS b)")
    _ = IN_SUBQUERY_CAP  # cap exists and is documented

    # e2e: revoke-consent UPDATE driven by a subquery over a --data view
    rc = _run([
        "--sql",
        "UPDATE cust SET v = 'REDACTED' "
        "WHERE k IN (SELECT k FROM src WHERE v LIKE '%new%')",
        "--data", str(data_dir), "--versionedTable", f"cust={root}",
    ])
    assert rc == 0
    rows = {r["k"]: r["v"] for r in t.snapshot().collect()}
    assert rows[2] == "REDACTED" and rows[3] == "REDACTED"
    assert rows[1] == "one" and rows[4] == "four"
    # NOT IN over an empty subquery result updates everything
    rc = _run([
        "--sql",
        "DELETE FROM cust WHERE k NOT IN (SELECT k FROM src WHERE k < 0)",
        "--data", str(data_dir), "--versionedTable", f"cust={root}",
    ])
    assert rc == 0
    assert t.snapshot().count() == 0


def _mk_banded(spark, tmp_path, bands=(0, 100_000, 200_000, 300_000),
               n=20_000):
    """Versioned table with one data file per disjoint key band."""
    root = tmp_path / "banded"
    t = VersionedTable.create(
        spark, str(root),
        spark.range(bands[0], bands[0] + n)
        .selectExpr("id AS k", "'x' AS v").coalesce(1),
        key_col="k",
    )
    for b in bands[1:]:
        t.append(
            spark.range(b, b + n).selectExpr("id AS k", "'x' AS v")
            .coalesce(1)
        )
    return t, root


def test_oversized_in_subquery_semi_join(spark, tmp_path):
    """Round 14 (verdict r13 #3): a >IN_SUBQUERY_CAP ``k IN (SELECT ..)``
    no longer refuses — it runs as a DISTRIBUTED semi-join through the
    natives' membership path, with the subject min/max implying file
    skipping (reads stay bounded where the subject keys cluster)."""
    from database_anonymiser_spark.sql_dml import execute_dml

    t, root = _mk_banded(spark, tmp_path)
    views = {"t": {"root": str(root), "pinned": False}}
    # 12k subjects clustered inside band 2 (200_000..211_999)
    spark.range(200_000, 212_000).selectExpr(
        "id AS s"
    ).createOrReplaceTempView("subj_clustered")

    # dryrun counts via the same membership semantics, commits nothing
    v0 = t.latest_version()
    rep = execute_dml(
        spark, "DELETE FROM t WHERE k IN (SELECT s FROM subj_clustered)",
        views, dryrun=True,
    )
    assert rep["rows_would_change"] == 12_000
    assert t.latest_version() == v0

    rep = execute_dml(
        spark, "DELETE FROM t WHERE k IN (SELECT s FROM subj_clustered)",
        views,
    )
    m = rep["metrics"]
    # the membership-implied [200000, 211999] range skips 3 of 4 files
    assert m["files_touched"] == 1 and m["files_carried"] == 3
    assert m["rows_deleted"] == 12_000
    assert t.snapshot().count() == 80_000 - 12_000
    assert t.snapshot().where("k >= 200000 AND k < 212000").count() == 0


def test_oversized_in_subquery_3vl_and_update(spark, tmp_path):
    """Exact three-valued logic on the semi-join path: NULL subjects
    never make IN true; any NULL subject makes NOT IN never TRUE (the
    statement is a committed no-op); NOT IN without NULLs anti-joins."""
    from database_anonymiser_spark.sql_dml import execute_dml

    t, root = _mk_banded(spark, tmp_path, bands=(0, 100_000), n=15_000)
    views = {"t": {"root": str(root), "pinned": False}}

    # IN with a NULL subject: the NULL contributes nothing
    spark.sql(
        "SELECT id AS s FROM range(0, 11000) "
        "UNION ALL SELECT CAST(NULL AS BIGINT)"
    ).createOrReplaceTempView("subj_in_null")
    rep = execute_dml(
        spark,
        "UPDATE t SET v = 'hit' WHERE k IN (SELECT s FROM subj_in_null) "
        "AND k >= 10",
        views,
    )
    assert rep["metrics"]["files_touched"] == 1  # band 0 only
    assert t.snapshot().where("v = 'hit'").count() == 11_000 - 10

    # NOT IN with a NULL subject: never TRUE → auditable empty commit
    v_before = t.latest_version()
    rep = execute_dml(
        spark,
        "UPDATE t SET v = 'z' WHERE k NOT IN (SELECT s FROM subj_in_null)",
        views,
    )
    assert rep["new_version"] == v_before + 1
    assert rep["metrics"]["files_touched"] == 0
    assert t.snapshot().where("v = 'z'").count() == 0

    # NOT IN without NULLs: anti-join (no prune possible — both files)
    spark.range(0, 11_000).selectExpr("id AS s").createOrReplaceTempView(
        "subj_not_in"
    )
    rep = execute_dml(
        spark,
        "DELETE FROM t WHERE k NOT IN (SELECT s FROM subj_not_in)",
        views,
    )
    assert rep["metrics"]["files_touched"] == 2
    # survivors: exactly the subject keys present in the table
    assert t.snapshot().count() == 11_000
    assert t.snapshot().where("k >= 100000").count() == 0


def test_oversized_in_subquery_refusals(spark, tmp_path):
    """The semi-join rewrite only claims what it can honor exactly:
    non-conjunct placement (under OR), expression operands, and a
    second oversized set all still refuse with guidance."""
    from database_anonymiser_spark.sql_dml import execute_dml

    t, root = _mk_banded(spark, tmp_path, bands=(0,), n=200)
    views = {"t": {"root": str(root), "pinned": False}}
    spark.range(0, 11_000).selectExpr("id AS s").createOrReplaceTempView(
        "subj_big"
    )
    with pytest.raises(SqlDmlError, match="top-level conjunct"):
        execute_dml(
            spark,
            "DELETE FROM t WHERE v = 'q' OR k IN (SELECT s FROM subj_big)",
            views,
        )
    with pytest.raises(SqlDmlError, match="plain column"):
        execute_dml(
            spark,
            "DELETE FROM t WHERE (k + 1) IN (SELECT s FROM subj_big)",
            views,
        )
    with pytest.raises(SqlDmlError, match="at most one oversized"):
        execute_dml(
            spark,
            "DELETE FROM t WHERE k IN (SELECT s FROM subj_big) "
            "AND k IN (SELECT s + 1 AS s2 FROM subj_big)",
            views,
        )
    # parenthesized whole-conjunct form IS claimed
    rep = execute_dml(
        spark,
        "DELETE FROM t WHERE (k IN (SELECT s FROM subj_big)) AND v = 'x'",
        views, dryrun=True,
    )
    assert rep["rows_would_change"] == 200


def test_e2e_sql_ddl_lifecycle(spark, tmp_path):
    """Round 14 (verdict r13 #4): the SQL DDL quartet in one script —
    CTAS into a versioned root, ADD COLUMN (NULL-fill evolution),
    RENAME COLUMN (column mapping), ALTER COLUMN TYPE (lossless
    widening), DROP COLUMN — each a metadata-only commit; DESCRIBE
    HISTORY shows every op and time travel below each stays intact."""
    import json

    data_dir = tmp_path / "data"
    data_dir.mkdir()
    spark.createDataFrame(
        [(1, 10, "a"), (2, 20, "b"), (3, 30, "c")], "k int, n int, v string"
    ).coalesce(1).write.parquet(str(data_dir / "src.parquet"))
    root = tmp_path / "ddl_t"
    report = tmp_path / "rep.json"
    script = tmp_path / "ddl.sql"
    script.write_text(
        f"CREATE TABLE t USING VERSIONED LOCATION '{root}' KEY (k) "
        "AS SELECT k, n, v FROM src;\n"
        "INSERT INTO t (k, n, v) VALUES (4, 40, 'd');\n"
        "ALTER TABLE t ADD COLUMN note string;\n"
        "UPDATE t SET note = concat(v, '!') WHERE k <= 2;\n"
        "ALTER TABLE t RENAME COLUMN v TO label;\n"
        "ALTER TABLE t ALTER COLUMN n TYPE bigint;\n"
        "ALTER TABLE t DROP COLUMN note;\n"
    )
    rc = _run([
        "--sqlFile", str(script),
        "--data", str(data_dir),
        "--report", str(report),
    ])
    assert rc == 0
    t = VersionedTable(spark, root)
    snap = t.snapshot()
    assert set(snap.columns) == {"k", "n", "label"}
    assert dict(snap.dtypes)["n"] == "bigint"
    assert {r["k"]: r["label"] for r in snap.collect()} == {
        1: "a", 2: "b", 3: "c", 4: "d",
    }
    # DESCRIBE HISTORY shows every op
    ops = [h["op"] for h in t.history()]
    assert ops == [
        "create", "append", "add_column", "update_where", "rename_column",
        "widen_column", "drop_column",
    ]
    # time travel below the DDL: version 1 still has the narrow pre-
    # rename schema and no note column
    old = t.snapshot(1)
    assert set(old.columns) == {"k", "n", "v"}
    assert dict(old.dtypes)["n"] == "int"
    # the report carries one fragment per statement
    rep = json.loads(report.read_text())
    frags = rep["statements"]
    assert [f["op"] for f in frags] == [
        "create_table", "insert", "add_column", "update", "rename_column",
        "widen_column", "drop_column",
    ]


def test_e2e_sql_ddl_refusals(spark, tmp_path):
    from database_anonymiser_spark.sql_dml import execute_utility

    root = tmp_path / "t"
    t = VersionedTable.create(
        spark, str(root),
        spark.createDataFrame([(1, "a")], "k int, v string"),
        key_col="k",
    )
    views = {"t": {"root": str(root), "pinned": False}}
    # narrowing refused by the native matrix
    with pytest.raises(ValueError):
        execute_utility(
            spark, "ALTER TABLE t ALTER COLUMN k TYPE smallint", views
        )
    # dropping the key refused
    with pytest.raises(ValueError):
        execute_utility(spark, "ALTER TABLE t DROP COLUMN k", views)
    # CREATE refuses to shadow a registered view
    with pytest.raises(SqlDmlError, match="shadow"):
        execute_utility(
            spark,
            f"CREATE TABLE t (a int) USING VERSIONED LOCATION "
            f"'{tmp_path / 'other'}'",
            views,
        )
    # column list and AS-select are mutually exclusive
    with pytest.raises(SqlDmlError, match="not both"):
        execute_utility(
            spark,
            f"CREATE TABLE u (a int) USING VERSIONED LOCATION "
            f"'{tmp_path / 'u'}' AS SELECT 1 AS a",
            views,
        )
    assert t.latest_version() == 0  # nothing committed


def test_e2e_sql_copy_into_idempotent(spark, tmp_path):
    """COPY INTO is idempotent by file: a re-run loads nothing new; a
    fresh file in the source loads exactly that file."""
    from database_anonymiser_spark.sql_dml import execute_utility

    src_dir = tmp_path / "incoming"
    src_dir.mkdir()
    spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string").coalesce(
        1
    ).write.parquet(str(src_dir / "batch1.parquet"))
    root = tmp_path / "t"
    t = VersionedTable.create(
        spark, str(root),
        spark.createDataFrame([(0, "z")], "k int, v string"),
        key_col="k",
    )
    views = {"t": {"root": str(root), "pinned": False}}
    stmt = f"COPY INTO t FROM '{src_dir}'"
    frag = execute_utility(spark, stmt, views)
    assert frag["files_loaded"] >= 1 and frag["files_skipped"] == 0
    assert t.snapshot().count() == 3
    # idempotent re-run: nothing loads, version unchanged
    v = t.latest_version()
    frag = execute_utility(spark, stmt, views)
    assert frag["files_loaded"] == 0
    assert t.latest_version() == v and t.snapshot().count() == 3
    # a fresh file loads exactly the new rows
    spark.createDataFrame([(3, "c")], "k int, v string").coalesce(
        1
    ).write.parquet(str(src_dir / "batch2.parquet"))
    frag = execute_utility(spark, stmt, views)
    assert frag["files_loaded"] >= 1 and frag["files_skipped"] >= 1
    assert t.snapshot().count() == 4


def test_e2e_sql_convert_to_versioned(spark, tmp_path):
    """CONVERT TO VERSIONED adopts an existing parquet directory by
    reference (zero rewrite) and registers the AS-view for the rest of
    the session."""
    from database_anonymiser_spark.sql_dml import execute_utility

    plain = tmp_path / "plain"
    spark.createDataFrame(
        [(i, f"r{i}") for i in range(100)], "k int, v string"
    ).coalesce(2).write.parquet(str(plain))
    views: dict = {}
    frag = execute_utility(
        spark, f"CONVERT TO VERSIONED '{plain}' KEY (k) AS conv_t", views
    )
    assert frag["op"] == "convert" and frag["files_adopted"] >= 1
    assert "conv_t" in views
    t = VersionedTable(spark, plain)
    assert t.snapshot().count() == 100
    # the registered view reads through the DataSource face
    assert spark.table("conv_t").count() == 100
    # and the converted table takes DML like any other
    from database_anonymiser_spark.sql_dml import execute_dml

    execute_dml(spark, "DELETE FROM conv_t WHERE k >= 90", views)
    assert t.snapshot().count() == 90


def test_e2e_sql_constraints_properties(spark, tmp_path):
    """ALTER TABLE ADD/DROP CONSTRAINT and SET/UNSET TBLPROPERTIES —
    each a metadata-only commit; a violating constraint refuses at ADD
    and a constrained write refuses after."""
    from database_anonymiser_spark.sql_dml import execute_dml, execute_utility

    root = tmp_path / "t"
    t = VersionedTable.create(
        spark, str(root),
        spark.createDataFrame([(1, 5.0), (2, 9.0)], "k int, bal double"),
        key_col="k",
    )
    views = {"t": {"root": str(root), "pinned": False}}
    frag = execute_utility(
        spark, "ALTER TABLE t ADD CONSTRAINT bal_pos CHECK (bal >= 0)",
        views,
    )
    assert frag["op"] == "add_constraint"
    assert dict(t.constraints()) == {"bal_pos": "bal >= 0"}
    # the constraint now guards DML
    with pytest.raises(Exception):
        execute_dml(spark, "UPDATE t SET bal = -1 WHERE k = 1", views)
    # a constraint existing rows violate refuses at ADD
    from database_anonymiser_spark.sources.versioned import (
        ConstraintViolation,
    )

    with pytest.raises(ConstraintViolation):
        execute_utility(
            spark, "ALTER TABLE t ADD CONSTRAINT bad CHECK (bal > 100)",
            views,
        )
    execute_utility(spark, "ALTER TABLE t DROP CONSTRAINT bal_pos", views)
    assert dict(t.constraints()) == {}
    frag = execute_utility(
        spark,
        "ALTER TABLE t SET TBLPROPERTIES ('owner' = 'data-eng', "
        "'pipeline' = 'nightly')",
        views,
    )
    assert frag["op"] == "set_properties"
    det = t.detail()["properties"]
    assert det["owner"] == "data-eng" and det["pipeline"] == "nightly"
    execute_utility(
        spark, "ALTER TABLE t UNSET TBLPROPERTIES ('pipeline')", views
    )
    assert "pipeline" not in t.detail()["properties"]
    # protocol slots stay guarded through the SQL face too
    with pytest.raises(ValueError):
        execute_utility(
            spark,
            "ALTER TABLE t SET TBLPROPERTIES ('protocol.reader_features' "
            "= '[]')",
            views,
        )
    # round-14 review fix: SQL-standard '' escaping round-trips a value
    # containing a quote through SET, SHOW CREATE, and UNSET
    execute_utility(
        spark, "ALTER TABLE t SET TBLPROPERTIES ('note' = 'it''s fine')",
        views,
    )
    assert t.detail()["properties"]["note"] == "it's fine"
    from database_anonymiser_spark.sql_dml import show_create_table

    assert "'it''s fine'" in show_create_table(t, "t")
    execute_utility(
        spark, "ALTER TABLE t UNSET TBLPROPERTIES ('note')", views
    )
    assert "note" not in t.detail()["properties"]


def _status_table(spark, root, constraint: str):
    t = VersionedTable.create(
        spark, str(root),
        spark.createDataFrame([(1, 5, "x")], "k int, a int, status string"),
        key_col="k",
    )
    t.add_constraint("c", constraint)
    return t, {"t": {"root": str(root), "pinned": False}}


def test_rename_ignores_a_column_name_inside_a_string_literal(spark, tmp_path):
    """A constraint reads the columns its parse tree names: ``'a'`` is a
    string literal, so renaming column ``a`` is allowed."""
    from database_anonymiser_spark.sql_dml import execute_utility

    t, views = _status_table(spark, tmp_path / "t", "status <> 'a'")
    execute_utility(spark, "ALTER TABLE t RENAME COLUMN a TO b", views)
    assert t.snapshot().columns == ["k", "b", "status"]
    t.append(spark.createDataFrame([(2, 6, "y")], "k int, b int, status string"))
    assert t.snapshot().count() == 2


def test_rename_and_drop_refuse_a_column_a_constraint_names_in_another_case(
    spark, tmp_path
):
    """``A > 0`` reads column ``a`` (Spark resolves names case-
    insensitively): renaming or dropping ``a`` would break every later
    write, so both refuse."""
    from database_anonymiser_spark.sql_dml import execute_utility

    t, views = _status_table(spark, tmp_path / "t", "A > 0")
    with pytest.raises(ValueError, match="references 'a'"):
        execute_utility(spark, "ALTER TABLE t RENAME COLUMN a TO b", views)
    with pytest.raises(ValueError, match="references 'a'"):
        t.drop_column("a")
    t.append(spark.createDataFrame([(2, 6, "y")], "k int, a int, status string"))
    assert t.snapshot().count() == 2


def test_add_columns_adds_every_column_in_one_commit(spark, tmp_path):
    """``ADD COLUMNS (b INT, c STRING)`` adds both columns in one
    metadata commit; a repeated name refuses before anything commits."""
    from database_anonymiser_spark.sql_dml import execute_utility

    root = tmp_path / "t"
    t = VersionedTable.create(
        spark, str(root), spark.createDataFrame([(1,)], "k int"), key_col="k",
    )
    views = {"t": {"root": str(root), "pinned": False}}
    v0 = t.latest_version()
    frag = execute_utility(
        spark, "ALTER TABLE t ADD COLUMNS (b INT, `c c` STRING)", views
    )
    assert frag["op"] == "add_column"
    assert frag["columns"] == {"b": "int", "c c": "string"}
    assert frag["new_version"] == v0 + 1 == t.latest_version()
    assert dict(t.snapshot().dtypes) == {"k": "int", "b": "int", "c c": "string"}
    with pytest.raises(ValueError, match="already exists"):
        execute_utility(spark, "ALTER TABLE t ADD COLUMNS (d INT, b INT)", views)
    assert t.latest_version() == v0 + 1


def test_claim_utility_parses_only_what_it_must(spark, monkeypatch):
    """Routing cost: a SELECT, the benchmark's OPTIMIZE and VACUUM ...
    RETAIN n VERSIONS are claimed (or not) without one JVM parse; an
    ALTER TABLE is parsed exactly once."""
    import database_anonymiser_spark.sql_dml as D

    calls = []
    parse = D._parse
    monkeypatch.setattr(
        D, "_parse", lambda *a, **k: calls.append(a[0]) or parse(*a, **k)
    )
    views = {"v": {"root": "unused", "pinned": False}}
    assert D.claim_utility("SELECT count(*) FROM v WHERE a > 1", views) is None
    assert D.claim_utility("OPTIMIZE v", views) == "optimize"
    assert D.claim_utility("VACUUM v RETAIN 10 VERSIONS", views) == "vacuum"
    assert calls == []
    assert D.claim_utility("ALTER TABLE v ADD COLUMNS (b INT)", views) == "alter"
    assert len(calls) == 1


def test_e2e_sql_truncate_and_insert_overwrite(spark, tmp_path):
    """TRUNCATE TABLE is a metadata-only dereference (zero data reads,
    history intact, RESTORE undoes it); INSERT OVERWRITE atomically
    replaces contents in one commit."""
    import database_anonymiser_spark.sources.versioned as V
    from database_anonymiser_spark.sql_dml import execute_dml, execute_utility

    root = tmp_path / "t"
    t = VersionedTable.create(
        spark, str(root),
        spark.range(1000).selectExpr("id AS k", "'x' AS v").repartition(4),
        key_col="k",
    )
    views = {"t": {"root": str(root), "pinned": False}}
    f0 = V.DATA_FILES_READ
    frag = execute_utility(spark, "TRUNCATE TABLE t", views)
    assert V.DATA_FILES_READ - f0 == 0  # pure metadata
    assert frag["metrics"]["files_removed"] >= 1
    assert t.snapshot().count() == 0
    assert t.snapshot(0).count() == 1000  # time travel below intact
    t.restore(0)
    assert t.snapshot().count() == 1000

    # INSERT OVERWRITE: one commit, full replacement, old state below
    spark.range(5).selectExpr(
        "id + 100 AS k", "'new' AS v"
    ).createOrReplaceTempView("ow_src")
    v_before = t.latest_version()
    frag = execute_dml(
        spark, "INSERT OVERWRITE t SELECT k, v FROM ow_src", views
    )
    assert frag["op"] == "insert_overwrite"
    assert frag["new_version"] == v_before + 1
    assert t.snapshot().count() == 5
    assert {r["v"] for r in t.snapshot().collect()} == {"new"}
    assert t.snapshot(v_before).count() == 1000
    # dryrun counts without committing
    frag = execute_dml(
        spark, "INSERT OVERWRITE t SELECT k, v FROM ow_src", views,
        dryrun=True,
    )
    assert frag["rows_would_change"] == 5
    assert t.latest_version() == v_before + 1


def test_e2e_sql_clone_and_show_create(spark, tmp_path):
    """CREATE TABLE ... SHALLOW CLONE from SQL (metadata-only fork,
    independently writable) and SHOW CREATE TABLE's executable
    round-trip."""
    from database_anonymiser_spark.sql_dml import (
        execute_dml,
        execute_utility,
        split_statements,
    )

    root = tmp_path / "src_t"
    t = VersionedTable.create(
        spark, str(root),
        spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"),
        key_col="k",
    )
    t.set_clustering(("k",))
    t.add_constraint("v_nonempty", "length(v) > 0")
    t.set_properties({"owner": "team-x"})
    views = {"src": {"root": str(root), "pinned": False}}
    frag = execute_utility(
        spark,
        f"CREATE TABLE dev SHALLOW CLONE src LOCATION '{tmp_path / 'dev'}'",
        views,
    )
    assert frag["op"] == "clone" and not frag["deep"]
    assert "dev" in views
    # the clone diverges without touching the source
    execute_dml(spark, "UPDATE dev SET v = 'DEV' WHERE k = 1", views)
    dev = VersionedTable(spark, tmp_path / "dev")
    assert {r["k"]: r["v"] for r in dev.snapshot().collect()} == {
        1: "DEV", 2: "b",
    }
    assert {r["k"]: r["v"] for r in t.snapshot().collect()} == {
        1: "a", 2: "b",
    }

    # SHOW CREATE TABLE emits executable DDL that recreates the shape
    frag = execute_utility(spark, "SHOW CREATE TABLE src", views)
    ddl = frag["rows"][0]["createtab_stmt"]
    assert "USING VERSIONED" in ddl and "KEY (k)" in ddl
    assert "CLUSTER BY (k)" in ddl and "v_nonempty" in ddl
    # round-trip: retarget the LOCATION and the view name, run it back
    ddl2 = ddl.replace(str(t.root), str(tmp_path / "rt")).replace(
        "TABLE src", "TABLE rt"
    )
    for stmt in split_statements(ddl2):
        execute_utility(spark, stmt, views)
    rt = VersionedTable(spark, tmp_path / "rt")
    assert rt.key_cols() == t.key_cols()
    assert tuple(rt.clustering_cols()) == tuple(t.clustering_cols())
    assert dict(rt.constraints()) == dict(t.constraints())
    assert rt.detail()["properties"]["owner"] == "team-x"
    assert [f.simpleString() for f in rt.snapshot().schema.fields] == [
        f.simpleString() for f in t.snapshot().schema.fields
    ]


def test_e2e_sql_create_identity_generated(spark, tmp_path):
    """CREATE TABLE with GENERATED ALWAYS AS IDENTITY (START WITH/STEP)
    and GENERATED ALWAYS AS (<expr>) columns — the creation-time-only
    native column classes now expressible in SQL; SHOW CREATE TABLE
    round-trips both."""
    from database_anonymiser_spark.sql_dml import execute_dml, execute_utility

    root = tmp_path / "t"
    views: dict = {}
    execute_utility(
        spark,
        f"CREATE TABLE t ("
        f"rid bigint GENERATED ALWAYS AS IDENTITY (START WITH 100 STEP 10), "
        f"k int, amt double, "
        f"amt2 double GENERATED ALWAYS AS (amt * 2)"
        f") USING VERSIONED LOCATION '{root}' KEY (k)",
        views,
    )
    assert "t" in views
    t = VersionedTable(spark, root)
    execute_dml(
        spark, "INSERT INTO t (k, amt) VALUES (1, 2.5), (2, 4.0)", views
    )
    rows = {r["k"]: r for r in t.snapshot().collect()}
    assert rows[1]["amt2"] == 5.0 and rows[2]["amt2"] == 8.0
    rids = sorted(r["rid"] for r in rows.values())
    assert all(rid >= 100 and (rid - 100) % 10 == 0 for rid in rids)
    assert len(set(rids)) == 2
    # supplying GENERATED ALWAYS columns refuses
    with pytest.raises((SqlDmlError, ValueError)):
        execute_dml(
            spark, "INSERT INTO t (rid, k, amt) VALUES (1, 3, 1.0)", views
        )
    # a generated-column value the expression contradicts refuses
    with pytest.raises(Exception):
        execute_dml(
            spark,
            "INSERT INTO t (k, amt, amt2) VALUES (3, 1.0, 99.0)", views,
        )
    # SHOW CREATE renders both column classes; the emitted DDL runs back
    frag = execute_utility(spark, "SHOW CREATE TABLE t", views)
    ddl = frag["rows"][0]["createtab_stmt"]
    assert "GENERATED ALWAYS AS IDENTITY" in ddl
    assert "GENERATED ALWAYS AS (amt * 2)" in ddl
    from database_anonymiser_spark.sql_dml import split_statements

    ddl2 = ddl.replace(str(root), str(tmp_path / "rt")).replace(
        "TABLE t", "TABLE rt"
    )
    for stmt in split_statements(ddl2):
        execute_utility(spark, stmt, views)
    rt = VersionedTable(spark, tmp_path / "rt")
    assert rt.identity_column() is not None
    execute_dml(spark, "INSERT INTO rt (k, amt) VALUES (9, 3.0)", views)
    r = rt.snapshot().collect()[0]
    assert r["amt2"] == 6.0 and r["rid"] >= 100


def test_e2e_sql_erase_oversized_membership(spark, tmp_path):
    """ERASE FROM ... WHERE k IN (<100k-subject SELECT>) — the GDPR
    revocation shape end-to-end: semi-join delete, vacuum, log scrub,
    membership-aware verification."""
    data_dir = tmp_path / "data"
    data_dir.mkdir()
    spark.range(1).write.parquet(str(data_dir / "dummy.parquet"))
    t, root = _mk_banded(spark, tmp_path, bands=(0, 100_000), n=15_000)
    spark.range(1_000, 13_000).selectExpr("id AS s").createOrReplaceTempView(
        "subj_erase"
    )
    rc = _run([
        "--sql", "ERASE FROM t WHERE k IN (SELECT s FROM subj_erase)",
        "--data", str(data_dir), "--versionedTable", f"t={root}",
    ])
    assert rc == 0
    assert t.snapshot().where("k >= 1000 AND k < 13000").count() == 0
    assert t.snapshot().count() == 30_000 - 12_000


def test_e2e_vacuum_dry_run(spark, dml_env, tmp_path):
    """VACUUM ... DRY RUN lists the reclaim candidates without
    unlinking anything; the real VACUUM then reclaims exactly them."""
    from database_anonymiser_spark.sql_dml import execute_utility

    data_dir, root = dml_env
    t = VersionedTable(spark, root)
    # churn: two rewrites leave superseded files behind
    t.update_where({"v": "upper(v)"}, "true")
    t.update_where({"v": "lower(v)"}, "true")
    views = {"cust": {"root": str(root), "pinned": False}}
    frag = execute_utility(
        spark, "VACUUM cust RETAIN 1 VERSIONS DRY RUN", views
    )
    assert frag["op"] == "vacuum_dry_run"
    n = frag["files_would_reclaim"]
    assert n >= 1 and len(frag["candidates"]) == min(n, 100)
    # nothing unlinked: every candidate still exists
    for rel in frag["candidates"]:
        assert (root / rel).exists()
    frag2 = execute_utility(spark, "VACUUM cust RETAIN 1 VERSIONS", views)
    assert frag2["files_reclaimed"] == n
    for rel in frag["candidates"]:
        assert not (root / rel).exists()


def test_emit_sql_txn_script_is_atomic(spark, tmp_path):
    """--emitSqlTxn: the emitted script is the reference's whole-apply
    transaction — run through the script face, BOTH tables publish as
    one txn_publish each, value-identical to the engine's own apply."""
    import json

    from database_anonymiser_spark.catalog import ParquetCatalog
    from database_anonymiser_spark.executor import mask_table
    from database_anonymiser_spark.planner import (
        Plan,
        PlannedColumn,
        PlannedTable,
    )
    from database_anonymiser_spark.sql_gen import emit_sql_script

    sf_dir = "/root/testdata/sf0.001"
    catalog = ParquetCatalog(spark, sf_dir)
    plan = Plan(
        created_at="t0",
        tables=(
            PlannedTable(
                table="public.customer", schema="public", name="customer",
                columns=(PlannedColumn("c_name", "HASH_SHA256"),),
            ),
            PlannedTable(
                table="public.nation", schema="public", name="nation",
                columns=(PlannedColumn("n_name", "REDACT"),),
            ),
        ),
    )
    script = emit_sql_script(catalog, plan, transactional=True)
    assert script.index("BEGIN;") < script.index("UPDATE `customer`")
    assert script.rindex("COMMIT;") > script.rindex("UPDATE `nation`")

    roots = {}
    for name, key in (("customer", "c_custkey"), ("nation", "n_nationkey")):
        roots[name] = tmp_path / name
        VersionedTable.create(
            spark, str(roots[name]), catalog.read(name), key_col=key
        )
    sql_path = tmp_path / "apply.sql"
    sql_path.write_text(script)
    rc = _run([
        "--sqlFile", str(sql_path),
        "--data", sf_dir,
        "--versionedTable", f"customer={roots['customer']}",
        "--versionedTable", f"nation={roots['nation']}",
    ])
    assert rc == 0
    for name, key in (("customer", "c_custkey"), ("nation", "n_nationkey")):
        t = VersionedTable(spark, roots[name])
        assert t.latest_version() == 1
        assert t.commit_op(1) == "txn_publish"
    # value-identical to the engine's own masked projection
    pt = plan.tables[0]
    engine = {
        tuple(r) for r in mask_table(catalog, pt)[0].collect()
    }
    scripted = {
        tuple(r)
        for r in VersionedTable(spark, roots["customer"]).snapshot().collect()
    }
    assert scripted == engine
    _ = json


def test_e2e_erase_refused_under_rollback_flag(spark, dml_env, tmp_path):
    """Round-14 review fix: ERASE physically reclaims pre-images, so a
    script rollback across it would restore references to deleted
    files — the combination refuses upfront, before anything runs."""
    data_dir, root = dml_env
    t = VersionedTable(spark, root)
    v0 = t.latest_version()
    script = tmp_path / "s.sql"
    script.write_text(
        "UPDATE cust SET v = upper(v) WHERE k = 1;\n"
        "ERASE FROM cust WHERE k = 2;\n"
    )
    rc = _run([
        "--sqlFile", str(script), "--sqlRollbackOnError",
        "--data", str(data_dir), "--versionedTable", f"cust={root}",
    ])
    assert rc == 2
    assert t.latest_version() == v0  # nothing ran
    # without the rollback flag the same script is fine
    rc = _run([
        "--sqlFile", str(script),
        "--data", str(data_dir), "--versionedTable", f"cust={root}",
    ])
    assert rc == 0


def test_e2e_sql_erase(spark, dml_env, tmp_path):
    """ERASE FROM ... WHERE — the GDPR Art. 17 verified hard delete as a
    SQL statement (engine extension): rows gone, pre-images reclaimed
    from disk, time travel below the erase cannot resurrect them."""
    data_dir, root = dml_env
    t = VersionedTable(spark, root)
    rep = tmp_path / "erase.json"
    rc = _run([
        "--sql", "ERASE FROM cust WHERE k IN (SELECT k FROM src WHERE k <= 3)",
        "--data", str(data_dir), "--versionedTable", f"cust={root}",
        "--report", str(rep),
    ])
    assert rc == 0
    out = json.loads(rep.read_text())
    assert out["op"] == "erase" and out["rows_deleted"] == 2
    assert sorted(r["k"] for r in t.snapshot().collect()) == [1, 4]
    # every on-disk file is live: the pre-images are physically gone
    live = {e["path"] for e in t._live_entries()}
    on_disk = {
        str(p.relative_to(t.root)) for p in (t.root / "data").rglob("*.parquet")
    }
    assert on_disk == live
    # unscoped erase is refused (write DELETE explicitly)
    rc = _run([
        "--sql", "ERASE FROM cust",
        "--data", str(data_dir), "--versionedTable", f"cust={root}",
    ])
    assert rc == 2


def test_emitted_sql_script_reproduces_engine_apply(spark, sf_dir, tmp_path):
    """--emitSql equivalence: the emitted UPDATE script (the reference's
    literal query-builder.ts artifact) run through the SQL DML face must
    reproduce the engine's own masked projection value-for-value —
    including the type-safety downgrade (REDACT on a NUMBER column
    downgrades to KEEP in BOTH paths)."""
    from database_anonymiser_spark.catalog import ParquetCatalog
    from database_anonymiser_spark.executor import mask_table
    from database_anonymiser_spark.planner import (
        Plan,
        PlannedColumn,
        PlannedTable,
    )
    from database_anonymiser_spark.sql_dml import (
        execute_dml,
        split_statements,
    )
    from database_anonymiser_spark.sql_gen import emit_sql_script

    catalog = ParquetCatalog(spark, sf_dir)
    pt = PlannedTable(
        table="public.customer", schema="public", name="customer",
        columns=(
            PlannedColumn("c_name", "EMAIL_FAKE"),
            PlannedColumn("c_mktsegment", "HASH_SHA256"),
            PlannedColumn("c_acctbal", "REDACT"),      # NUMBER → downgrade
            PlannedColumn("c_nationkey", "SET_NULL"),
        ),
    )
    plan = Plan(created_at="t0", tables=(pt,))
    script = emit_sql_script(catalog, plan)
    assert "UPDATE `customer` SET" in script
    assert "downgraded" in script  # the REDACT-on-NUMBER note
    assert "md5(coalesce(CAST(`c_mktsegment` AS STRING), ''))" in script

    # the engine's own projection (what --apply writes)
    engine = {
        tuple(r)
        for r in mask_table(catalog, pt)[0]
        .orderBy("c_custkey")
        .collect()
    }

    # the emitted script against a versioned copy of the same table
    root = tmp_path / "cust_v"
    t = VersionedTable.create(
        spark, str(root), catalog.read("customer"), key_col="c_custkey"
    )
    views = {"customer": {"root": str(root), "pinned": False}}
    stmts = split_statements(script)
    assert len(stmts) == 1
    execute_dml(spark, stmts[0], views)
    scripted = {tuple(r) for r in t.snapshot().orderBy("c_custkey").collect()}
    assert scripted == engine


def test_emitted_sql_script_reproduces_keyed_apply(spark, sf_dir, tmp_path):
    """--emitSql equivalence for the KEYED strategies (round-14 advice
    fix): with the {{HMAC_*_HEX}} placeholders substituted, the emitted
    HASH_HMAC expression must reproduce strategies.hash_hmac's raw-byte
    RFC 2104 values (round 13 wrongly emitted the hex-text shape), and
    HASH_KEYED must reproduce keyed_hash's hex-text values."""
    import database_anonymiser_spark.strategies as S
    from database_anonymiser_spark.catalog import ParquetCatalog
    from database_anonymiser_spark.executor import mask_table
    from database_anonymiser_spark.planner import (
        Plan,
        PlannedColumn,
        PlannedTable,
    )
    from database_anonymiser_spark.sql_dml import (
        execute_dml,
        split_statements,
    )
    from database_anonymiser_spark.sql_gen import emit_sql_script

    key = "r14-emit-equivalence-key"
    S.set_hmac_key(key)
    try:
        catalog = ParquetCatalog(spark, sf_dir)
        pt = PlannedTable(
            table="public.customer", schema="public", name="customer",
            columns=(
                PlannedColumn("c_name", "HASH_HMAC"),
                PlannedColumn("c_mktsegment", "HASH_KEYED"),
            ),
        )
        plan = Plan(created_at="t0", tables=(pt,))
        script = emit_sql_script(catalog, plan)
        # key material never lands in the file — placeholders only
        ipad, opad = S._hmac_pads(key.encode())
        assert ipad.hex() not in script and opad.hex() not in script
        assert "{{HMAC_IPAD_HEX}}" in script and "{{HMAC_OPAD_HEX}}" in script
        # HASH_HMAC must carry the raw-byte shape (unhex'd pads + unhex
        # of the inner digest), HASH_KEYED the hex-text shape
        assert "unhex('{{HMAC_IPAD_HEX}}')" in script
        assert "concat('{{HMAC_IPAD_HEX}}'" in script

        engine = {
            tuple(r)
            for r in mask_table(catalog, pt)[0].orderBy("c_custkey").collect()
        }

        root = tmp_path / "cust_keyed_v"
        t = VersionedTable.create(
            spark, str(root), catalog.read("customer"), key_col="c_custkey"
        )
        views = {"customer": {"root": str(root), "pinned": False}}
        runnable = script.replace("{{HMAC_IPAD_HEX}}", ipad.hex()).replace(
            "{{HMAC_OPAD_HEX}}", opad.hex()
        )
        stmts = split_statements(runnable)
        assert len(stmts) == 1
        execute_dml(spark, stmts[0], views)
        scripted = {
            tuple(r) for r in t.snapshot().orderBy("c_custkey").collect()
        }
        assert scripted == engine
        # and the HMAC values really are RFC 2104 (stdlib witness)
        import hmac as _hmac

        src = {
            r["c_custkey"]: r["c_name"]
            for r in catalog.read("customer").limit(5).collect()
        }
        got = {
            r["c_custkey"]: r["c_name"]
            for r in t.snapshot()
            .where(F.col("c_custkey").isin(*src))
            .collect()
        }
        for k_, name in src.items():
            want = _hmac.new(
                key.encode(), (name or "").encode(), "sha256"
            ).hexdigest()
            assert got[k_] == want
    finally:
        S.set_hmac_key(None)


def test_emitted_sql_script_quotes_every_identifier(spark, tmp_path):
    """--emitSql over names that are not bare SQL identifiers: ``e-mail``
    (bare, a subtraction of the columns ``e`` and ``mail``), ``my col``
    (bare, a parse error), ``a`b`` (an embedded backtick) and ``null``
    (bare, the NULL literal), in a table named ``people-v1``. The script
    backtick-quotes every identifier, and running it through the DML face
    gives the rows ``--apply`` writes."""
    import hashlib

    import pyarrow as pa
    import pyarrow.parquet as pq

    from database_anonymiser_spark.catalog import ParquetCatalog
    from database_anonymiser_spark.executor import execute_plan
    from database_anonymiser_spark.planner import (
        Plan,
        PlannedColumn,
        PlannedTable,
    )
    from database_anonymiser_spark.sql_dml import (
        execute_dml,
        split_statements,
    )
    from database_anonymiser_spark.sql_gen import emit_sql_script

    data = tmp_path / "data"
    data.mkdir()
    pq.write_table(pa.table({
        "k": pa.array([1, 2, 3], pa.int64()),
        "e": pa.array([10, 20, 30], pa.int64()),
        "mail": pa.array([1, 2, 3], pa.int64()),
        "e-mail": ["ann@x.org", None, "cy@z.net"],
        "my col": ["alpha", "beta", None],
        "a`b": ["truncate me", "ab", None],
        "null": ["n1", None, "n3"],
    }), data / "people-v1.parquet")
    catalog = ParquetCatalog(spark, data)
    plan = Plan(created_at="t0", tables=(PlannedTable(
        table="public.people-v1", schema="public", name="people-v1",
        columns=(
            PlannedColumn("e-mail", "HASH_SHA256"),
            PlannedColumn("my col", "REDACT"),
            PlannedColumn("a`b", "TRUNCATE"),
            PlannedColumn("null", "EMAIL_FAKE"),
        ),
    ),))
    script = emit_sql_script(catalog, plan)
    assert "UPDATE `people-v1` SET" in script
    assert "`e-mail` = md5(coalesce(CAST(`e-mail` AS STRING), ''))" in script
    assert "`my col` = '***'" in script
    assert "`a``b` = substring(coalesce(CAST(`a``b` AS STRING), ''), 1, 4)" in script
    assert "`null` = concat(md5(coalesce(CAST(`null` AS STRING), ''))" in script

    res = execute_plan(catalog, plan, dryrun=False, output_root=tmp_path / "out")
    assert not res.failed_tables
    applied = {
        tuple(r) for r in spark.read.parquet(
            str(tmp_path / "out" / "people-v1.parquet")).collect()
    }
    root = tmp_path / "people_v"
    t = VersionedTable.create(
        spark, str(root), catalog.read("people-v1"), key_col="k"
    )
    (stmt,) = split_statements(script)
    execute_dml(spark, stmt, {"people-v1": {"root": str(root), "pinned": False}})
    scripted = {tuple(r) for r in t.snapshot().collect()}
    assert scripted == applied
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()
    assert (1, 10, 1, md5("ann@x.org"), "***", "trun", md5("n1") + "@example.com") in scripted
    assert (2, 20, 2, md5(""), "***", "ab", md5("") + "@example.com") in scripted


def test_derive_prune_like_prefix(spark):
    from database_anonymiser_spark.sql_dml import derive_prune as dp

    # truncation-increment upper bound (round-14 advice fix): every
    # string with prefix 'abc' sorts strictly below 'abd', INCLUDING
    # 'abc\U0010FFFFx' which the old prefix+U+10FFFF bound wrongly
    # excluded (LIKE-matching rows must never be prune-skipped)
    assert dp("v LIKE 'abc%'") == {"v": ("abc", "abd")}
    assert dp("v LIKE 'it''s%' AND k > 0") == {
        "v": ("it's", "it't"), "k": (0, None),
    }
    # unincrementable last char: bump the previous one
    assert dp("v LIKE 'a\U0010FFFF%'") == {"v": ("a\U0010FFFF", "b")}
    # ALL chars at the max code point: lower bound only
    assert dp("v LIKE '\U0010FFFF%'") == {"v": ("\U0010FFFF", None)}
    # not a pure prefix: wildcard inside, leading %, bare % — no prune
    assert dp("v LIKE 'a_c%'") == {}
    assert dp("v LIKE '%abc'") == {}
    assert dp("v LIKE '%'") == {}


def test_derive_prune_mixed_type_bounds_drop_column(spark):
    """Round-14 advice fix: mixed literal types on one column must drop
    it from pruning (conservative), not raise an uncaught TypeError out
    of execute_dml past the CLI's except clause."""
    from database_anonymiser_spark.sql_dml import derive_prune as dp

    assert dp("c <= 5 AND c <= 'x'") == {}
    # other columns keep their hints
    assert dp("c <= 5 AND c <= 'x' AND k > 0") == {"k": (0, None)}
    # a later conjunct on the poisoned column must not resurrect it
    assert dp("c <= 5 AND c <= 'x' AND c >= 1") == {}
    # nullness on a poisoned column is still sound (orthogonal to order)
    assert dp("c <= 5 AND c <= 'x' AND c IS NOT NULL") == {"c": "notnull"}


def test_e2e_changes_table_timestamp_bounds(spark, dml_env, tmp_path):
    """@ts: forms on BOTH CDF bounds (startingTimestamp/endingTimestamp
    through the CLI pin grammar) — the last time-axis form the round-13
    parity work added."""
    data_dir, root = dml_env
    t = VersionedTable(spark, root)
    v0 = t.latest_version()
    ts_v0 = json.loads((root / "_log" / f"{v0:08d}.json").read_text())["ts"]
    _run([
        "--sql", "UPDATE cust SET v = 'a1' WHERE k = 1",
        "--data", str(data_dir), "--versionedTable", f"cust={root}",
    ])
    v1 = t.latest_version()
    ts_v1 = json.loads((root / "_log" / f"{v1:08d}.json").read_text())["ts"]
    _run([
        "--sql", "UPDATE cust SET v = 'a2' WHERE k = 2",
        "--data", str(data_dir), "--versionedTable", f"cust={root}",
    ])
    out = tmp_path / "slice"
    # startingTimestamp is the snapshot-bootstrap complement (strictly
    # AFTER the as-of version — spark_datasource.py docstring), so the
    # v1-only slice starts at v0's timestamp and ends at v1's
    rc = _run([
        "--sql", "SELECT _change_type, k, v FROM ch",
        "--data", str(data_dir),
        "--changesTable", f"ch={root}@ts:{ts_v0}..ts:{ts_v1}",
        "--out", str(out),
    ])
    assert rc == 0
    rows = {(r["_change_type"], r["k"]) for r in spark.read.parquet(str(out)).collect()}
    # exactly v1's events: the k=1 update, nothing from v0 or v2
    assert rows == {("update_preimage", 1), ("update_postimage", 1)}


def test_cli_default_view_face_answers_every_scan(spark, tmp_path, in_tmp_path):
    """Under the CLI's default flags a --versionedTable view is the plain
    snapshot face: a view scanned twice in one statement, or again after
    a filtered query, counts every file of a two-file table."""
    root = tmp_path / "d"
    t = VersionedTable.create(
        spark, str(root),
        spark.createDataFrame([(1, "a")], "k int, v string").coalesce(1),
        key_col="k",
    )
    t.append(spark.createDataFrame([(2, "b")], "k int, v string").coalesce(1))
    data_dir = tmp_path / "data"
    data_dir.mkdir()
    out = tmp_path / "u"
    rc = _run([
        "--sql", "SELECT count(*) AS n FROM d WHERE k = 1 "
        "UNION ALL SELECT count(*) AS n FROM d",
        "--data", str(data_dir), "--versionedTable", f"d={root}",
        "--out", str(out),
    ])
    assert rc == 0
    assert sorted(r["n"] for r in spark.read.parquet(str(out)).collect()) == [1, 2]
    rc = _run([
        "--sql", "SELECT v FROM d WHERE k = 2",
        "--data", str(data_dir), "--versionedTable", f"d={root}",
    ])
    assert rc == 0
    # the view the CLI registered stays in the session
    assert spark.sql("SELECT count(*) FROM d").first()[0] == 2


def test_e2e_optimize_merge_runs_and_pushdown(spark, dml_env, tmp_path):
    """OPTIMIZE ... MERGE RUNS k reaches the round-13 bounded
    cross-generation merge from SQL; --pushdown registers versioned
    views through the file-skipping reader face."""
    data_dir, root = dml_env
    t = VersionedTable(spark, root)
    # build 3 z-runs: cluster, then two trickle generations
    (tmp_path / "s.sql").write_text(
        "ALTER TABLE cust CLUSTER BY (k);\nOPTIMIZE cust;\n"
    )
    rc = _run([
        "--sqlFile", str(tmp_path / "s.sql"),
        "--data", str(data_dir), "--versionedTable", f"cust={root}",
    ])
    assert rc == 0
    for i in (50, 60):
        t.append(spark.createDataFrame([(i, "x")], "k int, v string"))
        t.optimize_cluster(file_count=1)
    assert t.detail()["clustering_runs"] == 3
    rep = tmp_path / "opt.json"
    rc = _run([
        "--sql", "OPTIMIZE cust MERGE RUNS 2",
        "--data", str(data_dir), "--versionedTable", f"cust={root}",
        "--report", str(rep),
    ])
    assert rc == 0
    assert t.detail()["clustering_runs"] == 2
    m = t.commit_meta(t.latest_version())["metrics"]
    assert m["runs_after"] == 2
    # MERGE RUNS without a clustering key is refused
    root2 = tmp_path / "nokey"
    VersionedTable.create(
        spark, str(root2),
        spark.createDataFrame([(1, "a")], "k int, v string"), key_col="k",
    )
    rc = _run([
        "--sql", "OPTIMIZE other MERGE RUNS 2",
        "--data", str(data_dir), "--versionedTable", f"other={root2}",
    ])
    assert rc == 2
    # --pushdown: same answers through the pruning reader
    out = tmp_path / "pd"
    rc = _run([
        "--sql", "SELECT k, v FROM cust WHERE k >= 50",
        "--data", str(data_dir), "--versionedTable", f"cust={root}",
        "--pushdown", "--out", str(out),
    ])
    assert rc == 0
    assert sorted(r["k"] for r in spark.read.parquet(str(out)).collect()) == [50, 60]
    # --no-pushdown (the default) is the plain snapshot face, same answers
    out2 = tmp_path / "pd2"
    rc = _run([
        "--sql", "SELECT k, v FROM cust WHERE k >= 50",
        "--data", str(data_dir), "--versionedTable", f"cust={root}",
        "--no-pushdown", "--out", str(out2),
    ])
    assert rc == 0
    assert sorted(r["k"] for r in spark.read.parquet(str(out2)).collect()) == [50, 60]
