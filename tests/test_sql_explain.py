"""Round 15: ``EXPLAIN <statement>`` in the SQL face + ``OPTIMIZE ...
WHERE`` (scoped z-order from SQL).

EXPLAIN must report classification, target, derived prune ranges with
their file-count effect (metadata probe), the membership plan an
``IN (SELECT ...)`` resolves to, and the native op — with ZERO
mutation. OPTIMIZE ... WHERE must rewrite only stats-overlapping
files, counter-bounded.
"""

from __future__ import annotations

import pytest

from database_anonymiser_spark.cli import main as cli_main
from database_anonymiser_spark.sql_dml import (
    SqlDmlError,
    claim_utility,
    execute_utility,
)
from database_anonymiser_spark.sources.versioned import VersionedTable


@pytest.fixture()
def banded(spark, tmp_path):
    """A 4-band versioned table (one file per contiguous key band)."""
    t = VersionedTable.create(
        spark, str(tmp_path / "t"),
        spark.range(0, 1000).selectExpr(
            "CAST(id AS INT) AS k", "CAST(id AS DOUBLE) AS amt"
        ).coalesce(1),
        key_col="k",
    )
    for b in (10_000, 20_000, 30_000):
        t.append(
            spark.range(b, b + 1000).selectExpr(
                "CAST(id AS INT) AS k", "CAST(id AS DOUBLE) AS amt"
            ).coalesce(1)
        )
    return t


def _views(t):
    return {"cust": {"root": str(t.root), "pinned": False}}


def test_explain_update_prune_and_zero_execution(spark, banded):
    v0 = banded.latest_version()
    frag = execute_utility(
        spark,
        "EXPLAIN UPDATE cust SET amt = amt + 1 "
        "WHERE k BETWEEN 30000 AND 30010",
        _views(banded),
    )
    assert frag["mode"] == "sql_explain" and frag["class"] == "update"
    assert frag["native_op"] == "update_where"
    assert frag["table"] == "cust"
    assert frag["prune"] == {"k": [30000, 30010]}
    assert frag["files_total"] == 4 and frag["files_would_read"] == 1
    assert frag["set_columns"] == ["amt"]
    # zero execution: no commit happened
    assert banded.latest_version() == v0


def test_explain_delete_membership_plans(spark, banded):
    # small subquery → literal inline
    spark.createDataFrame([(5,), (7,)], "k int").createOrReplaceTempView(
        "subj_small"
    )
    frag = execute_utility(
        spark,
        "EXPLAIN DELETE FROM cust WHERE k IN (SELECT k FROM subj_small)",
        _views(banded),
    )
    assert frag["class"] == "delete" and frag["native_op"] == "delete_where"
    assert frag["membership"]["plan"] == "literal_inline"
    # the inlined literals feed IN-list pruning: only band 0 overlaps
    assert frag["files_would_read"] == 1

    # oversized subquery → distributed semi-join
    spark.range(0, 12_000).selectExpr(
        "CAST(id AS INT) AS k"
    ).createOrReplaceTempView("subj_big")
    frag = execute_utility(
        spark,
        "EXPLAIN DELETE FROM cust WHERE k IN (SELECT k FROM subj_big)",
        _views(banded),
    )
    assert frag["membership"]["plan"] == "semi_join"
    assert frag["membership"]["column"] == "k"
    assert frag["membership"]["negated"] is False
    assert banded.latest_version() == 3  # still nothing committed


def test_explain_merge_keys_and_residual(spark, banded):
    frag = execute_utility(
        spark,
        "EXPLAIN MERGE INTO cust t USING cust s ON t.k = s.k "
        "AND s.amt > 100 "
        "WHEN MATCHED THEN UPDATE SET amt = s.amt "
        "WHEN NOT MATCHED THEN INSERT *",
        _views(banded),
    )
    assert frag["class"] == "merge" and frag["native_op"] == "merge"
    assert frag["on_keys"] == {"k": "k"}
    assert frag["residual_on"] == "(s.amt > 100)"
    assert frag["clauses"] == {
        "matched": 1, "not_matched": 1, "not_matched_by_source": 0
    }


def test_explain_optimize_and_select(spark, banded):
    frag = execute_utility(spark, "EXPLAIN OPTIMIZE cust", _views(banded))
    assert frag["class"] == "optimize" and frag["native_op"] == "compact"
    frag = execute_utility(
        spark,
        "EXPLAIN OPTIMIZE cust ZORDER BY (k) WHERE k >= 30000",
        _views(banded),
    )
    assert frag["native_op"] == "optimize_zorder" and frag["scoped"]
    assert frag["files_would_read"] == 1
    frag = execute_utility(
        spark, "EXPLAIN SELECT k FROM cust WHERE k < 500", _views(banded)
    )
    assert frag["class"] == "select"
    assert frag["native_op"] == "pushdown_scan"
    assert frag["files_would_read"] == 1 and frag["files_total"] == 4


def test_explain_mirrors_execution_refusals_and_merge_runs(spark, banded):
    """Round-15 review fix: EXPLAIN is the rehearsal of what WILL run —
    a statement execution would refuse must refuse identically under
    EXPLAIN, and MERGE RUNS reports the run-merge path, not compact."""
    views = _views(banded)
    with pytest.raises(SqlDmlError, match="needs ZORDER BY"):
        execute_utility(spark, "EXPLAIN OPTIMIZE cust WHERE k > 0", views)
    with pytest.raises(SqlDmlError, match="MERGE RUNS needs"):
        execute_utility(spark, "EXPLAIN OPTIMIZE cust MERGE RUNS 2", views)
    banded.set_clustering(("k",))
    frag = execute_utility(
        spark, "EXPLAIN OPTIMIZE cust MERGE RUNS 2", views
    )
    assert frag["native_op"] == "optimize_cluster"
    assert frag["merge_runs"] == 2 and frag["clustering_cols"] == ["k"]


def test_truncate_dryrun_previews(spark, banded, tmp_path):
    """Round-15 review fix: TRUNCATE became transactional, so a
    BEGIN..TRUNCATE..COMMIT script must preview under --sqlDryrun."""
    data_dir = tmp_path / "data"
    data_dir.mkdir()
    spark.range(1).write.parquet(str(data_dir / "dummy.parquet"))
    v0 = banded.latest_version()
    rc = cli_main([
        "--sql", "TRUNCATE TABLE cust", "--sqlDryrun",
        "--data", str(data_dir), "--versionedTable", f"cust={banded.root}",
        "--report", str(tmp_path / "r.json"),
    ])
    assert rc == 0 and banded.latest_version() == v0
    import json

    frag = json.loads((tmp_path / "r.json").read_text())
    assert frag["op"] == "truncate"
    assert frag["rows_would_change"] == 4000


def test_explain_refresh_materialized_view(spark, tmp_path):
    """EXPLAIN REFRESH MATERIALIZED VIEW: watermark, interval, loss-agg
    presence, no-op detection — zero execution."""
    from database_anonymiser_spark.sources.materialized import (
        create_materialized,
    )

    src = VersionedTable.create(
        spark, str(tmp_path / "s"),
        spark.createDataFrame(
            [(1, "x", 1.0), (2, "y", 2.0)], "k int, grp string, amt double"
        ),
        key_col="k",
    )
    mv_root = str(tmp_path / "mv")
    create_materialized(
        spark, mv_root, src.root, ["grp"],
        {"n": ("count", None), "mn": ("min", "amt")},
    )
    views = {
        "m": {"root": mv_root, "pinned": False},
        "s": {"root": str(src.root), "pinned": False},
    }
    frag = execute_utility(
        spark, "EXPLAIN REFRESH MATERIALIZED VIEW m", views
    )
    assert frag["class"] == "refresh_materialized_view"
    assert frag["native_op"] == "ivm_delta_merge"
    assert frag["would_noop"] is True  # source unmoved
    assert frag["loss_aggs"] == ["mn"]
    src.delete_where("k = 1")
    frag = execute_utility(
        spark, "EXPLAIN REFRESH MATERIALIZED VIEW m", views
    )
    assert frag["would_noop"] is False
    assert frag["watermark"] == 0 and frag["to_version"] == 1
    # the MV is untouched (zero execution)
    assert VersionedTable(spark, mv_root).latest_version() == 0


def test_analyze_table_sql(spark, banded, tmp_path):
    """ANALYZE TABLE ... COMPUTE STATISTICS FOR COLUMNS / BLOOM COLUMNS
    (round 15): footer-only stats harvest as SQL — after the ANALYZE a
    range predicate on the new column prunes files (visible through
    EXPLAIN's metadata probe), and the commit is metadata-only."""
    views = _views(banded)
    # before: amt has no per-file stats — EXPLAIN shows no pruning
    frag = execute_utility(
        spark,
        "EXPLAIN SELECT k FROM cust WHERE amt >= 30000", views,
    )
    assert frag["files_would_read"] == 4
    frag = execute_utility(
        spark,
        "ANALYZE TABLE cust COMPUTE STATISTICS FOR COLUMNS amt "
        "BLOOM COLUMNS k",
        views,
    )
    assert frag["op"] == "analyze" and frag["stats_cols"] == ["amt"]
    assert frag["bloom_cols"] == ["k"]
    # after: the same predicate prunes to the one overlapping band
    frag = execute_utility(
        spark,
        "EXPLAIN SELECT k FROM cust WHERE amt >= 30000", views,
    )
    assert frag["files_would_read"] == 1
    # refusals: no columns at all; unknown shape
    with pytest.raises(SqlDmlError, match="ANALYZE needs"):
        execute_utility(
            spark, "ANALYZE TABLE cust COMPUTE STATISTICS FOR", views
        )
    # a plain Spark ANALYZE on an unregistered name is NOT claimed
    from database_anonymiser_spark.sql_dml import claim_utility as cu

    assert cu("ANALYZE TABLE other COMPUTE STATISTICS", views) is None


def test_explain_claims_only_engine_shapes(spark, banded):
    views = _views(banded)
    assert claim_utility("EXPLAIN UPDATE cust SET amt = 1", views) == "explain"
    assert claim_utility("EXPLAIN OPTIMIZE cust", views) == "explain"
    assert claim_utility("EXPLAIN SELECT k FROM cust", views) == "explain"
    # foreign targets / arbitrary SQL fall through to Spark's EXPLAIN
    assert claim_utility("EXPLAIN UPDATE other SET a = 1", views) is None
    assert claim_utility("EXPLAIN UPDATE cust SET", views) is None
    assert claim_utility(
        "EXPLAIN SELECT a FROM cust JOIN x ON cust.k = x.k", views
    ) is None


def test_explain_select_reads_the_where_from_the_parse_tree(spark, banded):
    """A single-table SELECT with GROUP BY / HAVING / ORDER BY explains
    its scan: the WHERE (the filter over the relation, alias included)
    prunes, the HAVING does not."""
    views = _views(banded)
    stmt = (
        "EXPLAIN SELECT count(*) FROM cust c WHERE c.k >= 30000 "
        "GROUP BY k HAVING count(*) > 1 ORDER BY k"
    )
    assert claim_utility(stmt, views) == "explain"
    frag = execute_utility(spark, stmt, views)
    assert frag["class"] == "select" and frag["native_op"] == "pushdown_scan"
    assert frag["prune"] == {"k": [30000, None]}
    assert frag["files_total"] == 4 and frag["files_would_read"] == 1
    frag = execute_utility(
        spark, "EXPLAIN SELECT count(*) FROM cust WHERE k > 1 GROUP BY k",
        views,
    )
    assert frag["prune"] == {"k": [1, None]} and frag["files_would_read"] == 4


def test_e2e_explain_in_script(spark, banded, tmp_path):
    """EXPLAIN statements ride a maintenance script through the CLI —
    report frags carry the explanation, nothing commits."""
    data_dir = tmp_path / "data"
    data_dir.mkdir()
    spark.range(1).write.parquet(str(data_dir / "dummy.parquet"))
    v0 = banded.latest_version()
    script = tmp_path / "x.sql"
    script.write_text(
        "EXPLAIN UPDATE cust SET amt = 0 WHERE k BETWEEN 0 AND 10;\n"
        "EXPLAIN OPTIMIZE cust ZORDER BY (k) WHERE k < 1000;\n"
    )
    rep = tmp_path / "rep.json"
    rc = cli_main([
        "--sqlFile", str(script),
        "--data", str(data_dir),
        "--versionedTable", f"cust={banded.root}",
        "--report", str(rep),
    ])
    assert rc == 0
    import json

    frags = json.loads(rep.read_text())["statements"]
    assert [f["op"] for f in frags] == ["explain", "explain"]
    assert frags[0]["files_would_read"] == 1
    assert banded.latest_version() == v0


def test_optimize_where_rewrites_only_overlapping_files(spark, banded, tmp_path):
    """OPTIMIZE ... ZORDER BY ... WHERE: only the stats-overlapping
    band is reclustered (counter-bounded); refusals for WHERE without
    ZORDER BY and for underivable predicates."""
    views = _views(banded)
    frag = execute_utility(
        spark,
        "OPTIMIZE cust ZORDER BY (k) WHERE k BETWEEN 30000 AND 30500",
        views,
    )
    assert frag["op"] == "optimize_zorder"
    assert frag["scope"] == {"k": [30000, 30500]}
    m = banded.commit_meta(banded.latest_version())["metrics"]
    assert m["files_reclustered"] == 1  # only band 3; bands 0-2 untouched
    # the row set is unchanged (row-preserving contract)
    assert banded.snapshot().count() == 4000

    with pytest.raises(SqlDmlError, match="needs ZORDER BY"):
        execute_utility(spark, "OPTIMIZE cust WHERE k > 0", views)
    with pytest.raises(SqlDmlError, match="derives no file-skipping"):
        execute_utility(
            spark,
            "OPTIMIZE cust ZORDER BY (k) WHERE k > 0 OR amt < 5", views,
        )


def test_show_tblproperties(spark, banded, tmp_path):
    """SHOW TBLPROPERTIES (round 15): the versioned property map as
    (key, value) rows; unregistered names fall through to Spark."""
    from database_anonymiser_spark.sql_dml import claim_utility as cu

    views = _views(banded)
    frag = execute_utility(
        spark, "ALTER TABLE cust SET TBLPROPERTIES ('owner' = 'gdpr-team')",
        views,
    )
    frag = execute_utility(spark, "SHOW TBLPROPERTIES cust", views)
    assert frag["op"] == "show_tblproperties"
    rows = {r["key"]: r["value"] for r in frag["rows"]}
    assert rows["owner"] == "gdpr-team"
    assert cu("SHOW TBLPROPERTIES other", views) is None


def test_explain_refresh_and_analyze_mirror_refusals(spark, banded, tmp_path):
    """Round-15 second-review fixes: EXPLAIN REFRESH refuses the same
    out-of-range TO VERSION and pinned targets execution refuses;
    ANALYZE refuses unknown columns instead of committing dead stats."""
    from database_anonymiser_spark.sources.materialized import (
        create_materialized,
    )

    src = VersionedTable.create(
        spark, str(tmp_path / "s"),
        spark.createDataFrame([(1, "x", 1.0)], "k int, grp string, amt double"),
        key_col="k",
    )
    mv_root = str(tmp_path / "mv")
    create_materialized(
        spark, mv_root, src.root, ["grp"], {"n": ("count", None)}
    )
    views = {
        "m": {"root": mv_root, "pinned": False},
        "mp": {"root": mv_root, "pinned": True},
        "s": {"root": str(src.root), "pinned": False},
    }
    with pytest.raises(SqlDmlError, match="outside"):
        execute_utility(
            spark, "EXPLAIN REFRESH MATERIALIZED VIEW m TO VERSION 99",
            views,
        )
    with pytest.raises(SqlDmlError, match="pinned"):
        execute_utility(
            spark, "EXPLAIN REFRESH MATERIALIZED VIEW mp", views
        )
    # EXPLAIN of any statement runs its execution's validation
    for stmt, refusal in (
        ("EXPLAIN OPTIMIZE mp", "pinned"),
        ("EXPLAIN UPDATE mp SET n = 0", "pinned"),
        ("EXPLAIN DELETE FROM m WHERE n > 0", "MATERIALIZED VIEW"),
    ):
        with pytest.raises(SqlDmlError, match=refusal):
            execute_utility(spark, stmt, views)
    v0 = banded.latest_version()
    with pytest.raises(SqlDmlError, match="no such column"):
        execute_utility(
            spark,
            "ANALYZE TABLE cust COMPUTE STATISTICS FOR COLUMNS amtt",
            _views(banded),
        )
    assert banded.latest_version() == v0  # nothing committed
