"""Protocol / table-features gating (round 12 — Delta's protocol
action): commits carry reader/writer feature sets; a reader that does
not implement a required READER feature refuses the table instead of
silently misreading it (DV'd rows resurrecting, physical names
surfacing), and a writer refuses to commit against unknown WRITER
features. Feature adoption happens in the commit that FIRST uses the
capability; the sets ride checkpoints and CLONE and surface in
``detail()``."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

import database_anonymiser_spark.sources.versioned as V
from database_anonymiser_spark.sources.versioned import (
    ProtocolError,
    VersionedTable,
)


@pytest.fixture()
def registered(spark):
    from database_anonymiser_spark.sources.spark_datasource import (
        VersionedDataSource,
    )

    spark.dataSource.register(VersionedDataSource)
    return spark


def _mk(spark, root, **kw):
    df = spark.createDataFrame(
        [(i, f"n{i}", float(i)) for i in range(20)], "k long, name string, v double"
    )
    return VersionedTable.create(spark, str(root), df, key_col="k", **kw)


def _doctor(t, reader=None, writer=None):
    """Hand-write a future commit that requires features this engine
    does not implement — the cross-engine / future-version scenario."""
    v = t.latest_version()
    props = dict(t._raw_properties())
    if reader is not None:
        props[V.PROTOCOL_READER_KEY] = json.dumps(reader)
    if writer is not None:
        props[V.PROTOCOL_WRITER_KEY] = json.dumps(writer)
    rec = {
        "version": v + 1,
        "op": "futureOp",
        "ts": "2099-01-01T00:00:00+00:00",
        "key_col": "k",
        "meta": {"properties": props},
        "adds": [],
        "removes": [],
    }
    (t.root / "_log" / f"{v + 1:08d}.json").write_text(json.dumps(rec))
    V._replay_cache_invalidate(t.root)


def test_features_adopted_on_first_use_and_visible_in_detail(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    d = t.detail()
    assert d["reader_features"] == [] and d["writer_features"] == []
    # protocol slots are NOT user properties
    assert not any(k.startswith("protocol.") for k in d["properties"])

    t.delete_where("k = 3")
    assert t.detail()["reader_features"] == ["deletionVectors"]
    t.rename_column("name", "label")
    assert t.detail()["reader_features"] == ["columnMapping", "deletionVectors"]
    t.add_constraint("v_nonneg", "v >= 0")
    d = t.detail()
    assert "checkConstraints" in d["writer_features"]
    assert "checkConstraints" not in d["reader_features"]  # writer-only
    # reader features imply writer membership
    assert set(d["reader_features"]) <= set(d["writer_features"])

    # create-time features
    rt = VersionedTable.create(
        spark, str(tmp_path / "rt"),
        spark.createDataFrame([(1, "a")], "a int, b string"),
        key_col=None, row_tracking=True,
    )
    assert rt.detail()["reader_features"] == ["rowTracking"]
    idt = VersionedTable.create(
        spark, str(tmp_path / "idt"),
        spark.createDataFrame([("x",)], "s string"),
        key_col=None, identity_col="rid",
    )
    assert idt.detail()["writer_features"] == ["identityColumns"]
    assert idt.detail()["reader_features"] == []


def test_type_widening_adopts_feature(spark, tmp_path):
    t = VersionedTable.create(
        spark, str(tmp_path / "t"),
        spark.createDataFrame([(1, 2)], "k long, v int"), key_col="k",
    )
    t.widen_column("v", "long")
    assert t.detail()["reader_features"] == ["typeWidening"]


def test_unknown_reader_feature_refuses_both_faces(registered, tmp_path):
    spark = registered
    t = _mk(spark, tmp_path / "t")
    _doctor(t, reader=["futureColumnarThing"], writer=["futureColumnarThing"])
    # native face: any state resolution refuses with a guided error
    with pytest.raises(ProtocolError, match="futureColumnarThing"):
        t.snapshot().count()
    with pytest.raises(ProtocolError, match="upgrade the engine"):
        t.row_count()
    # DataSource face resolves through the same replay
    with pytest.raises(Exception, match="futureColumnarThing"):
        (
            spark.read.format("versioned")
            .option("path", str(t.root)).load().count()
        )
    # time travel BELOW the feature commit still reads fine
    assert t.snapshot(0).count() == 20


def test_unknown_writer_feature_reads_but_refuses_commits(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    _doctor(t, writer=["futureMergePolicy"])
    # reads are fine: every reader feature is understood
    assert t.snapshot().count() == 20
    assert t.detail()["writer_features"] == ["futureMergePolicy"]
    # but NO commit may land — append, update, delete, maintenance
    src = t.spark.createDataFrame([(99, "z", 0.0)], "k long, name string, v double")
    with pytest.raises(ProtocolError, match="futureMergePolicy"):
        t.append(src)
    with pytest.raises(ProtocolError, match="writer feature"):
        t.update_where({"v": F.lit(0.0)}, "k = 1")
    with pytest.raises(ProtocolError):
        t.compact()
    with pytest.raises(ProtocolError):
        t.set_properties({"x": "y"})


def test_corrupt_protocol_refuses(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    _doctor(t, reader="not-json-list")  # doctored to a non-list value
    with pytest.raises(ProtocolError, match="unparseable"):
        t.snapshot().count()


def test_protocol_survives_checkpoint_and_clone(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    t.delete_where("k = 5")
    for i in range(V.CHECKPOINT_INTERVAL + 1):
        t.set_properties({"tick": str(i)})
    assert V._list_checkpoints(t.root)
    cold = VersionedTable(spark, str(tmp_path / "t"))
    assert cold.detail()["reader_features"] == ["deletionVectors"]

    c = VersionedTable.clone(spark, str(tmp_path / "t"), str(tmp_path / "c"))
    assert c.detail()["reader_features"] == ["deletionVectors"]

    # adoption is idempotent: a second DV delete adds no metadata churn
    v0 = t.latest_version()
    t.delete_where("k = 7")
    rec = json.loads((t.root / "_log" / f"{v0 + 1:08d}.json").read_text())
    assert "properties" not in (rec.get("meta") or {})


def test_protocol_slots_are_not_settable(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    with pytest.raises(ValueError, match="protocol-reserved"):
        t.set_properties({V.PROTOCOL_READER_KEY: "[]"})
    with pytest.raises(ValueError, match="protocol-reserved"):
        t.unset_properties([V.PROTOCOL_WRITER_KEY])
    # and they never leak into the user property map
    t.set_properties({"owner": "me"})
    assert t.table_properties() == {"owner": "me"}
