"""Incremental clustering (round 12 — the cost shape of Delta liquid
clustering): ``set_clustering(cols)`` declares the key as pure metadata;
``optimize_cluster()`` z-order-rewrites ONLY files written since the
last clustering pass (the per-entry ``clustered`` watermark), carrying
clustered files by reference — O(new data) per maintenance call, never
O(table)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import database_anonymiser_spark.sources.versioned as V
from database_anonymiser_spark.sources.versioned import VersionedTable


def _mk(spark, root, n=400):
    df = spark.createDataFrame(
        [(i, i % 20, float(i)) for i in range(n)], "k long, g int, v double"
    ).repartition(4)
    return VersionedTable.create(spark, str(root), df, key_col="k")


def test_set_clustering_is_metadata_and_declares_stats(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    files0 = {e["path"] for e in t._live_entries()}
    v = t.set_clustering(("g", "v"))
    assert t.commit_op(v) == "set_clustering"
    assert {e["path"] for e in t._live_entries()} == files0  # no data moved
    assert t.clustering_cols() == ("g", "v")
    assert "g" in t.stats_cols() and "v" in t.stats_cols()
    d = t.detail()
    assert d["clustering_cols"] == ["g", "v"]
    assert d["files_unclustered"] == len(files0)
    # clustering.cols is a plain property mechanically, but the API
    # surfaces it via clustering_cols/detail, not table_properties
    with pytest.raises(ValueError, match="at most 4 columns"):
        t.set_clustering(("k", "g", "v", "k", "g"))
    with pytest.raises(ValueError, match="no such column"):
        t.set_clustering(("zz",))


def test_cluster_by_none_drops_the_clustering_key(spark, tmp_path):
    """``set_clustering(())`` — and ``ALTER TABLE t CLUSTER BY NONE`` —
    drops the declared key: clustering_cols() is () again, SHOW CREATE
    TABLE renders no CLUSTER BY, and the declared stats stay."""
    from database_anonymiser_spark.sql_dml import execute_utility

    t = _mk(spark, tmp_path / "t")
    t.set_clustering(("g",))
    v = t.set_clustering(())
    assert t.commit_op(v) == "set_clustering"
    assert t.clustering_cols() == () and t.detail()["clustering_cols"] == []
    assert "g" in t.stats_cols()
    with pytest.raises(ValueError, match="no clustering key declared"):
        t.optimize_cluster()

    views = {"t": {"root": str(t.root), "pinned": False}}

    def ddl():
        frag = execute_utility(spark, "SHOW CREATE TABLE t", views)
        return frag["rows"][0]["createtab_stmt"]

    execute_utility(spark, "ALTER TABLE t CLUSTER BY (g, v)", views)
    assert t.clustering_cols() == ("g", "v") and "CLUSTER BY (g, v)" in ddl()
    frag = execute_utility(spark, "ALTER TABLE t CLUSTER BY NONE", views)
    assert frag["new_version"] == t.latest_version()
    assert t.clustering_cols() == () and "CLUSTER BY" not in ddl()


def test_optimize_cluster_is_incremental(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    t.set_clustering(("g",))
    rows0 = {(r.k, r.g, r.v) for r in t.snapshot().collect()}

    # first call: full recluster (everything unclustered)
    v1 = t.optimize_cluster(file_count=4)
    m1 = t.commit_meta(v1)["metrics"]
    assert m1["files_clustered"] == 4 and m1["files_carried"] == 0
    assert t.detail()["files_unclustered"] == 0
    assert {(r.k, r.g, r.v) for r in t.snapshot().collect()} == rows0

    # trickle: two new files land unclustered
    t.append(
        spark.createDataFrame([(1000, 3, 1.0)], "k long, g int, v double")
    )
    t.append(
        spark.createDataFrame([(1001, 7, 2.0)], "k long, g int, v double")
    )
    assert t.detail()["files_unclustered"] == 2

    # second call reads ONLY the delta; clustered files carry by reference
    clustered_before = {
        e["path"] for e in t._live_entries() if e.get("clustered")
    }
    f0 = V.DATA_FILES_READ
    v2 = t.optimize_cluster(file_count=1)
    assert V.DATA_FILES_READ - f0 == 2  # the two new files, nothing else
    m2 = t.commit_meta(v2)["metrics"]
    assert m2["files_clustered"] == 2 and m2["files_carried"] == len(
        clustered_before
    )
    assert clustered_before <= {e["path"] for e in t._live_entries()}
    assert t.row_count() == 402

    # third call: metadata no-op, no commit
    assert t.optimize_cluster() == v2

    # pruning works on the clustering column across generations
    hits = t.files_matching({"g": (3, 3)})
    assert len(hits) < len(t._live_entries())


def test_optimize_cluster_requires_declaration_and_redeclare_resets(
    spark, tmp_path
):
    t = _mk(spark, tmp_path / "t")
    with pytest.raises(ValueError, match="set_clustering"):
        t.optimize_cluster()
    t.set_clustering(("g",))
    t.optimize_cluster(file_count=2)
    assert t.detail()["files_unclustered"] == 0
    # re-declaring a DIFFERENT key: every live file counts unclustered
    # again (the watermark means "clustered", the declared key defines
    # by-what — Delta's ALTER ... CLUSTER BY has the same effect)
    t.set_clustering(("v",))
    assert t.clustering_cols() == ("v",)
    # the files are still flag-clustered from the old key; a full
    # optimize_zorder resets the layout when the caller wants the new
    # key materialized immediately
    v = t.optimize_zorder(("v",), file_count=2)
    assert t.commit_op(v) == "optimize_zorder"


def test_cluster_commit_is_row_preserving_for_streams(registered, tmp_path):
    spark = registered
    t = _mk(spark, tmp_path / "t", n=50)
    t.set_clustering(("g",))
    out_dir, ck = tmp_path / "out", tmp_path / "ck"

    def drain():
        q = (
            spark.readStream.format("versioned")
            .option("path", str(tmp_path / "t")).load()
            .writeStream.format("parquet")
            .option("path", str(out_dir))
            .option("checkpointLocation", str(ck))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()
    assert spark.read.parquet(str(out_dir)).count() == 50
    t.optimize_cluster(file_count=1)
    t.append(spark.createDataFrame([(999, 1, 0.0)], "k long, g int, v double"))
    drain()  # the cluster rewrite must NOT re-deliver the table
    assert spark.read.parquet(str(out_dir)).count() == 51


@pytest.fixture()
def registered(spark):
    from database_anonymiser_spark.sources.spark_datasource import (
        VersionedDataSource,
    )

    spark.dataSource.register(VersionedDataSource)
    return spark


def test_streaming_sink_inline_clustering(spark, tmp_path):
    """cluster_every (round 12): the streaming merge sink keeps its table
    clustered IN-LINE — after the cadence batch, everything written since
    the last pass is reclustered (no-op until a key is declared); table
    STATE is untouched (row-preserving)."""
    import shutil

    from database_anonymiser_spark.streaming.pipeline import (
        run_stream_to_versioned,
    )

    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    root = str(tmp_path / "table")
    schema = "k long, g int, v double"

    def feed(name, rows):
        spark.createDataFrame(rows, schema).repartition(1).write.parquet(
            str(src / "stage"), mode="overwrite"
        )
        for p in (src / "stage").glob("*.parquet"):
            shutil.move(str(p), str(src / f"{name}_{p.name}"))
        shutil.rmtree(src / "stage")

    def drain():
        stream = spark.readStream.schema(schema).parquet(str(src))
        run_stream_to_versioned(
            stream, root, key_col="k", checkpoint=ckpt, cluster_every=1,
        )

    feed("b0", [(i, i % 5, float(i)) for i in range(50)])
    drain()
    t = VersionedTable(spark, root)
    # no clustering key declared yet: the knob is a no-op, not an error
    assert t.clustering_cols() == ()

    t.set_clustering(("g",))
    feed("b1", [(100 + i, i % 5, -1.0) for i in range(10)])
    drain()
    t = VersionedTable(spark, root)
    d = t.detail()
    assert d["clustering_cols"] == ["g"]
    assert d["files_unclustered"] == 0  # the cadence pass ran in-line
    assert t.commit_op(t.latest_version()) == "optimize_cluster"
    assert t.row_count() == 60
    assert t.snapshot().where("v = -1.0").count() == 10


def test_optimize_cluster_merge_runs_bounded(spark, tmp_path):
    """Round 13: the bounded cross-generation merge. Three trickle
    generations fold level-style into one pass that reads ONLY their
    files — the pre-clustered bulk run (largest by bytes) carries by
    reference — and the table converges to the requested run count."""
    t = _mk(spark, tmp_path / "t")  # 4-file bulk, 400 rows
    t.set_clustering(("g",))
    t.optimize_cluster(file_count=4)  # run 1: the bulk
    for i in range(3):  # runs 2, 3, 4 — one tiny generation each
        t.append(
            spark.createDataFrame(
                [(1000 + i, i, float(i))], "k long, g int, v double"
            )
        )
        t.optimize_cluster(file_count=1)
    d = t.detail()
    assert d["clustering_runs"] == 4 and d["files_unclustered"] == 0
    rows_before = {(r.k, r.g, r.v) for r in t.snapshot().collect()}
    bulk_files = {
        e["path"] for e in t._live_entries() if e.get("clustered") == 1
    }
    assert len(bulk_files) == 4

    # merge-ONLY pass (nothing unclustered, too many runs): reads exactly
    # the 3 trickle generations' files, never the bulk
    f0 = V.DATA_FILES_READ
    v = t.optimize_cluster(merge_runs=2)
    assert V.DATA_FILES_READ - f0 == 3
    m = t.commit_meta(v)["metrics"]
    assert m["runs_before"] == 4
    assert m["runs_merged"] == 3
    assert m["runs_after"] == 2
    assert m["files_clustered"] == 3 and m["files_carried"] == 4
    assert bulk_files <= {e["path"] for e in t._live_entries()}
    assert t.detail()["clustering_runs"] == 2
    assert {(r.k, r.g, r.v) for r in t.snapshot().collect()} == rows_before

    # converged: the bounded pass is now a pure metadata no-op
    assert t.optimize_cluster(merge_runs=2) == v

    # trickle + bound in ONE pass: the new file and the small merged run
    # fold together (2 files read); the bulk still carries
    t.append(
        spark.createDataFrame([(2000, 9, 9.0)], "k long, g int, v double")
    )
    f0 = V.DATA_FILES_READ
    v2 = t.optimize_cluster(merge_runs=2)
    assert V.DATA_FILES_READ - f0 == 2
    m2 = t.commit_meta(v2)["metrics"]
    assert m2["runs_before"] == 2 and m2["runs_merged"] == 1
    assert m2["runs_after"] == 2
    assert bulk_files <= {e["path"] for e in t._live_entries()}
    assert t.row_count() == 404
    with pytest.raises(ValueError, match="merge_runs"):
        t.optimize_cluster(merge_runs=0)


def test_restore_keeps_clustering_watermark(spark, tmp_path):
    """RESTORE re-adds carry the clustered run id — a rollback must not
    make the next optimize pass recluster restored files for nothing."""
    t = _mk(spark, tmp_path / "t")
    t.set_clustering(("g",))
    v_clustered = t.optimize_cluster(file_count=2)
    t.append(
        spark.createDataFrame([(5000, 1, 1.0)], "k long, g int, v double")
    )
    t.delete_where("k < 100")  # rewrites clustered files → restore re-adds
    t.restore(v_clustered)
    assert t.detail()["files_unclustered"] == 0
    assert t.detail()["clustering_runs"] == 1
    # nothing to do: the restored files still carry their watermark
    assert t.optimize_cluster() == t.latest_version()
