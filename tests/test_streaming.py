"""Structured Streaming runtime tests: real readStream over the events
fixture, memory sink, batch-equivalence of the windowed aggregations."""

import pytest
from pyspark.sql import functions as F

from database_anonymiser_spark.streaming import (
    masked_stream,
    session_agg_stream,
    stream_events,
    tumbling_agg_stream,
)
from database_anonymiser_spark.streaming.pipeline import run_to_memory
from database_anonymiser_spark.suite.base import load


@pytest.fixture(scope="module")
def events_path(sf_dir):
    return f"{sf_dir}/events.parquet"


def test_tumbling_stream_equals_batch(spark, sf_dir, events_path):
    stream = tumbling_agg_stream(stream_events(spark, events_path))
    got = run_to_memory(spark, stream, "t_tumbling", mode="append")
    events = load(spark, sf_dir, "events")
    batch = (
        events.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n",
        )
    )
    g = {(r["window_start"], r["event_type"]): r["n"] for r in got.collect()}
    b = {(r["window_start"], r["event_type"]): (r["n"], r["window_end"]) for r in batch.collect()}
    # Append mode emits a window only once the watermark passes its end; the
    # tail windows stay open at end-of-stream. Every emitted window must match
    # the batch value exactly, and every window the watermark closed
    # (end <= max_ts - 10min horizon) must have been emitted.
    import datetime

    assert g, "stream emitted no finalized windows"
    for key, n in g.items():
        assert key in b and b[key][0] == n, f"stream/batch mismatch for {key}"
    max_ts = events.agg(F.max("ts")).collect()[0][0]
    horizon = max_ts - datetime.timedelta(minutes=10)
    closed = {k for k, (_, end) in b.items() if end <= horizon}
    assert closed <= set(g), "watermark-closed windows missing from stream output"


def test_session_stream_runs(spark, events_path):
    stream = session_agg_stream(stream_events(spark, events_path))
    got = run_to_memory(spark, stream, "t_session", mode="append")
    rows = got.collect()
    assert rows and all(r["session_end"] > r["session_start"] for r in rows)


def test_masked_stream_is_stateless_projection(spark, events_path):
    stream = masked_stream(stream_events(spark, events_path))
    got = run_to_memory(spark, stream, "t_masked", mode="append")
    row = got.limit(1).collect()[0]
    assert len(row["props"]) == 32  # md5 hex
    assert got.count() > 0


def test_stateful_user_stats_equals_batch(spark, sf_dir, events_path):
    """applyInPandasWithState running totals: final state after one bounded
    run equals the batch groupBy."""
    from database_anonymiser_spark.streaming.pipeline import user_running_stats_stream

    stream = user_running_stats_stream(stream_events(spark, events_path))
    got = run_to_memory(spark, stream, "t_stateful", mode="update")
    batch = (
        load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
    )
    g = {r["user_id"]: (r["n_events"], r["total_value"]) for r in got.collect()}
    b = {r["user_id"]: (r["n_events"], r["total_value"]) for r in batch.collect()}
    assert set(g) == set(b)
    for uid in b:
        assert g[uid][0] == b[uid][0], f"count mismatch for user {uid}"
        assert abs(g[uid][1] - b[uid][1]) < 1e-6, f"sum mismatch for user {uid}"


def test_dedup_stream_equals_batch_distinct(spark, sf_dir, events_path):
    """Streaming dropDuplicatesWithinWatermark (watermark-bounded state)
    must agree with batch distinct on the key ALONE — key-level dedup, not
    just same-timestamp dedup (ADVICE r2)."""
    from database_anonymiser_spark.streaming.pipeline import dedup_stream

    stream = dedup_stream(stream_events(spark, events_path), key_cols=("event_id",))
    got = run_to_memory(spark, stream, "t_dedup", mode="append")
    batch_n = load(spark, sf_dir, "events").dropDuplicates(["event_id"]).count()
    assert got.count() == batch_n


def test_stream_stream_join_equals_batch_range_join(spark, sf_dir, events_path):
    """Watermarked stream-stream join: emitted pairs must be a subset of the
    batch range join (tail rows can stay buffered past end-of-stream), and
    every pair whose state the watermark fully closed must be emitted."""
    from database_anonymiser_spark.streaming.pipeline import purchase_view_join_stream

    stream = purchase_view_join_stream(stream_events(spark, events_path))
    got = run_to_memory(spark, stream, "t_ssjoin", mode="append")
    ev = load(spark, sf_dir, "events")
    v = ev.where(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user_id"),
        F.col("ts").alias("view_ts"),
        F.col("event_id").alias("view_id"),
    )
    p = ev.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("purchase_ts"), F.col("event_id").alias("purchase_id")
    )
    batch = p.join(
        v,
        (F.col("v_user_id") == F.col("user_id"))
        & (F.col("view_ts") <= F.col("purchase_ts"))
        & (F.col("view_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 30 MINUTES")),
    )
    g = {(r["purchase_id"], r["view_id"]) for r in got.collect()}
    b = {(r["purchase_id"], r["view_id"]) for r in batch.collect()}
    assert g, "stream-stream join emitted nothing"
    assert g <= b, "stream emitted a pair the batch range join does not contain"


def test_checkpoint_exactly_once_restart(spark, events_path, tmp_path):
    """Restarting a checkpointed file-sink query must not duplicate output:
    the second availableNow run finds no new input and writes nothing."""
    out = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    def run_once():
        q = (
            masked_stream(stream_events(spark, events_path))
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    n1 = spark.read.parquet(out).count()
    run_once()  # restart from checkpoint: no new files -> no new rows
    n2 = spark.read.parquet(out).count()
    assert n1 > 0 and n2 == n1


def test_file_sink_checkpoint_restart_exactly_once(spark, tmp_path):
    """Restarting a file-sink stream from its checkpoint must process ONLY
    files that arrived since the last run — the WAL + _spark_metadata
    transaction log give exactly-once output across restarts, the property
    a 100 TB ingest pipeline leans on when executors or the driver die."""
    from database_anonymiser_spark.streaming.pipeline import run_to_files

    in_dir, out_dir, cp = (str(tmp_path / d) for d in ("in", "out", "cp"))
    spark.range(0, 100).coalesce(1).write.mode("append").parquet(in_dir)
    stream = spark.readStream.schema("id long").parquet(in_dir)
    run_to_files(stream, out_dir, cp)
    assert spark.read.parquet(out_dir).count() == 100

    spark.range(100, 150).coalesce(1).write.mode("append").parquet(in_dir)
    stream2 = spark.readStream.schema("id long").parquet(in_dir)
    run_to_files(stream2, out_dir, cp)
    out = spark.read.parquet(out_dir)
    assert out.count() == 150  # no re-emission of the first 100
    assert out.select("id").distinct().count() == 150


def _write_nanos_events(path: str, n: int = 20):
    """A tiny ns-encoded events file (the pre-round-3 fixture encoding)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    base_ns = 1_700_000_000 * 1_000_000_000
    tbl = pa.table(
        {
            "event_id": pa.array(range(n), pa.int64()),
            "ts": pa.array(
                [base_ns + i * 60_000_000_000 for i in range(n)],
                pa.timestamp("ns"),
            ),
            "user_id": pa.array([i % 3 for i in range(n)], pa.int64()),
            "event_type": pa.array(["view"] * n, pa.string()),
            "value": pa.array([float(i) for i in range(n)], pa.float64()),
            "props": pa.array(["{}"] * n, pa.string()),
        }
    )
    pq.write_table(tbl, path)


def test_stream_events_expands_glob_for_nanos_probe(spark, tmp_path):
    """A true glob pattern (the documented path_glob contract) must still
    classify a ns-encoded source correctly — pyarrow datasets can't expand
    patterns, so the probe globs first (before round 4 the probe's bare
    except silently classified every glob source as micros, and the
    TimestampType schema then broke on the INT64-nanos data)."""
    d = tmp_path / "nev"
    d.mkdir()
    _write_nanos_events(str(d / "part-0.parquet"))
    got = run_to_memory(
        spark,
        stream_events(spark, f"{d}/*.parquet"),
        "t_glob_nanos",
    )
    rows = got.orderBy("event_id").collect()
    assert len(rows) == 20
    assert rows[0]["ts"] is not None
    assert (rows[1]["ts"] - rows[0]["ts"]).total_seconds() == 60.0


def test_stream_events_explicit_schema_skips_probe(spark, tmp_path, monkeypatch):
    """With an explicit schema the footer probe must not run at all — the
    schema's ts type decides the conversion (LongType ⇒ epoch-ns). This is
    the contract for defining a stream over a directory that fills later."""
    import database_anonymiser_spark.streaming.pipeline as P
    from pyspark.sql import types as T

    def _boom(path):
        raise AssertionError("probe must be skipped when schema is explicit")

    monkeypatch.setattr(
        "database_anonymiser_spark.catalog._nanos_timestamp_columns", _boom
    )
    d = tmp_path / "nev2"
    d.mkdir()
    _write_nanos_events(str(d / "part-0.parquet"))
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )
    got = run_to_memory(
        spark,
        P.stream_events(spark, f"{d}/*.parquet", schema=schema),
        "t_schema_nanos",
    )
    rows = got.orderBy("event_id").collect()
    assert len(rows) == 20
    assert (rows[1]["ts"] - rows[0]["ts"]).total_seconds() == 60.0


def test_nanos_probe_warns_and_does_not_cache_empty(tmp_path):
    """An empty (or unmatched) target warns and is NOT cached: once files
    arrive, the next probe sees them — the old lru_cache pinned the wrong
    'no nanos columns' answer for the process lifetime."""
    import warnings as W

    from database_anonymiser_spark.catalog import _nanos_timestamp_columns

    d = tmp_path / "late"
    d.mkdir()
    pattern = f"{d}/*.parquet"
    with W.catch_warnings(record=True) as caught:
        W.simplefilter("always")
        assert _nanos_timestamp_columns(pattern) == ()
    assert any("no files match" in str(w.message) for w in caught)
    _write_nanos_events(str(d / "part-0.parquet"))
    assert _nanos_timestamp_columns(pattern) == ("ts",)


def test_enriched_stream_equals_batch_broadcast_join(spark, sf_dir, events_path):
    """Stream-static left enrichment join == the batch broadcast left join
    (stateless: no watermark, no join state), and events with no dimension
    row survive with NULL enrichment."""
    from database_anonymiser_spark.streaming.pipeline import enriched_stream

    dim = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
    )
    stream = enriched_stream(stream_events(spark, events_path), dim)
    got = run_to_memory(
        spark,
        stream.select("event_id", "user_id", "segment"),
        "t_enrich",
    )
    batch = (
        load(spark, sf_dir, "events")
        .join(F.broadcast(dim), "user_id", "left")
        .select("event_id", "user_id", "segment")
    )
    g = {(r["event_id"], r["segment"]) for r in got.collect()}
    b = {(r["event_id"], r["segment"]) for r in batch.collect()}
    assert g == b and len(g) > 0
    assert any(s is None for _, s in g) or all(s is not None for _, s in g)


def test_foreach_batch_sink_is_exactly_once_across_restart(spark, tmp_path):
    """foreachBatch + checkpoint: a sink that CRASHES mid-batch must, on
    restart, replay the SAME batch_id so an idempotent (batch_id-keyed)
    write yields exactly-once output."""
    import os

    from database_anonymiser_spark.streaming.pipeline import run_foreach_batch

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    cp = str(tmp_path / "cp")
    os.makedirs(out_dir)
    spark.range(0, 50).coalesce(1).write.mode("append").parquet(in_dir)

    crashed = {"yet": False}

    def crashy_sink(batch_df, batch_id):
        # idempotent: batch_id-keyed overwrite — replay rewrites, not appends
        batch_df.write.mode("overwrite").parquet(f"{out_dir}/batch={batch_id}")
        if not crashed["yet"]:
            crashed["yet"] = True
            raise RuntimeError("injected sink crash AFTER write, BEFORE commit")

    stream = spark.readStream.schema("id long").parquet(in_dir)
    try:
        run_foreach_batch(stream, crashy_sink, cp)
        raise AssertionError("expected the injected crash to surface")
    except Exception as e:
        assert "injected sink crash" in str(e)

    # restart from the same checkpoint: batch replays with the SAME id
    stream2 = spark.readStream.schema("id long").parquet(in_dir)
    run_foreach_batch(stream2, crashy_sink, cp)
    out = spark.read.parquet(out_dir)
    assert out.count() == 50  # no duplicates: replay overwrote, didn't append
    assert out.select("id").distinct().count() == 50


def test_composed_streaming_pipeline_end_to_end(spark, sf_dir, events_path):
    """The production composition on ONE stream: anonymise (stateless) →
    exact dedup (watermark-bounded state) → dimension enrichment
    (stateless broadcast) → tumbling count by enriched key (windowed
    state). Runs as a single Structured Streaming query; emitted windows
    must match the equivalent batch pipeline exactly."""
    from database_anonymiser_spark.strategies import strategy_column
    from database_anonymiser_spark.streaming.pipeline import (
        dedup_stream,
        enriched_stream,
        stream_events,
    )

    dim = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
    )
    ev = stream_events(spark, events_path)
    # the watermark is set ONCE (inside dedup_stream) and inherited by the
    # windowed agg — Spark forbids redefining it mid-stream, so the mask
    # projection keeps ts as LTZ (masked_stream's NTZ cast is its
    # batch-parity form, not the composition form)
    masked = dedup_stream(ev).select(
        "event_id", "ts", "user_id", "event_type", "value",
        strategy_column("HASH_SHA256", "props").alias("props"),
    )
    enriched = enriched_stream(masked, dim)
    agg = (
        enriched.groupBy(F.window("ts", "1 hour"), "segment")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("window.start").cast("timestamp_ntz").alias("window_start"),
            "segment",
            "n",
        )
    )
    got = {
        (r["window_start"], r["segment"]): r["n"]
        for r in run_to_memory(spark, agg, "t_composed").collect()
    }

    batch_events = load(spark, sf_dir, "events").dropDuplicates(["event_id"])
    batch = (
        batch_events.join(F.broadcast(dim), "user_id", "left")
        .groupBy(F.window("ts", "1 hour"), "segment")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("window.start").alias("window_start"),
            "segment",
            "n",
        )
    )
    b = {(r["window_start"], r["segment"]): r["n"] for r in batch.collect()}
    # append mode withholds windows the watermark hasn't closed; every
    # emitted window must match the batch value exactly
    assert len(got) > 0
    for key, n in got.items():
        assert b.get(key) == n, key


def test_late_data_dropped_by_streaming_dedup_and_session(spark, tmp_path):
    """Negative path of the watermark contract in the STREAMING runtime
    (the batch twins would happily keep these rows): batch 1 advances the
    watermark far past an old timestamp; after a checkpoint restart, a
    batch carrying an event BEHIND the watermark must be dropped by
    dropDuplicatesWithinWatermark and produce no session window, while a
    fresh event in the same batch flows through — proving the drop is
    lateness, not a stalled query."""
    import datetime

    from database_anonymiser_spark.streaming.pipeline import (
        dedup_stream,
        run_to_files,
        session_agg_stream,
        stream_events,
    )
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )
    in_dir = str(tmp_path / "in")
    base = datetime.datetime(2024, 1, 1, 12, 0, 0)

    def write_batch(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)

    def drain(make_stream, out, ckpt):
        run_to_files(
            make_stream(stream_events(spark, in_dir, schema=schema)),
            str(tmp_path / out),
            str(tmp_path / ckpt),
        )
        return spark.read.parquet(str(tmp_path / out))

    # batch 1: 10 events spanning 9 hours -> watermark lands at
    # max_ts - 10min = base + 9h - 10min, hours past `base`
    write_batch(
        [
            (i, base + datetime.timedelta(hours=i), i % 3, "view", 1.0, "{}")
            for i in range(10)
        ]
    )
    d1 = drain(dedup_stream, "dedup_out", "dedup_ckpt")
    s1 = drain(session_agg_stream, "sess_out", "sess_ckpt")
    assert d1.count() == 10
    n_sessions_1 = s1.count()
    assert n_sessions_1 > 0  # watermark closed the early sessions

    # batch 2 after restart: id 100 is LATE (ts = base, far behind the
    # restored watermark) -> dropped; id 101 is fresh -> kept
    write_batch(
        [
            (100, base, 9, "view", 1.0, "{}"),
            (101, base + datetime.timedelta(hours=10), 9, "view", 1.0, "{}"),
        ]
    )
    d2 = drain(dedup_stream, "dedup_out", "dedup_ckpt")
    ids = {r["event_id"] for r in d2.select("event_id").collect()}
    assert 101 in ids, "fresh event must survive the second batch"
    assert 100 not in ids, "late event must be dropped at the watermark"

    s2 = drain(session_agg_stream, "sess_out", "sess_ckpt")
    late_sessions = s2.where(
        (F.col("user_id") == 9) & (F.col("session_start") == base)
    ).count()
    assert late_sessions == 0, "late event must not open a session window"


def test_curate_stream_gates_and_dedups(spark, tmp_path):
    """curate_stream: the stateless gates match the batch pipeline on the
    same rows, and an exact duplicate (same normalized text, different id)
    arriving within the watermark is dropped by the streaming fingerprint
    dedup while distinct docs survive."""
    import datetime

    from database_anonymiser_spark.streaming.pipeline import curate_stream

    t0 = datetime.datetime(2024, 1, 1, 12, 0, 0)
    good = "the quick brown fox jumps over the lazy dog and runs to the hills"
    rows = [
        (1, good, t0),
        (2, "{ } { } { }", t0),                            # boilerplate -> dropped
        (3, "tiny", t0),                                   # below min_tokens
        (4, good + " again and again today", t0),          # distinct -> kept
        (5, "  " + good + "  ", t0 + datetime.timedelta(minutes=1)),  # dup of 1 (normalized)
    ]
    src = tmp_path / "docs_src"
    spark.createDataFrame(
        rows, "doc_id long, text string, ts timestamp"
    ).repartition(1).write.parquet(str(src))

    stream = spark.readStream.schema(
        "doc_id long, text string, ts timestamp"
    ).parquet(str(src))
    out = curate_stream(stream, min_tokens=5, watermark="10 minutes")
    got = run_to_memory(spark, out, "t_curate_stream", mode="append")
    ids = sorted(r["doc_id"] for r in got.collect())
    assert ids == [1, 4], ids
    prof = {r["doc_id"]: r for r in got.collect()}
    assert prof[1]["n_tokens"] == 14 and prof[1]["lang_pred"] == "en"
    assert prof[1]["fingerprint"] is not None


def test_curate_stream_into_versioned_table(spark, tmp_path):
    """The full streaming-ingest → ACID-table composition: curate_stream
    output MERGEs into a VersionedTable per micro-batch. Pins: (1) the
    final snapshot equals the batch-curated expectation; (2) re-running
    the drained stream (same checkpoint, no new input) leaves the snapshot
    IDENTICAL — merge-idempotent exactly-once state; (3) a re-delivered
    doc with updated text UPDATES its row instead of duplicating."""
    import datetime

    from database_anonymiser_spark.sources.versioned import VersionedTable
    from database_anonymiser_spark.streaming.pipeline import (
        curate_stream,
        run_stream_to_versioned,
    )

    t0 = datetime.datetime(2024, 1, 1, 12, 0, 0)
    good = "the quick brown fox jumps over the lazy dog and runs to the hills"
    other = "completely different content about databases and distributed query engines"
    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    root = str(tmp_path / "table")
    schema = "doc_id long, text string, ts timestamp"

    def drain():
        stream = spark.readStream.schema(schema).parquet(str(src))
        out = curate_stream(stream, min_tokens=5, watermark="10 minutes")
        run_stream_to_versioned(out, root, key_col="doc_id", checkpoint=ckpt)

    spark.createDataFrame(
        [(1, good, t0), (2, other, t0), (3, "tiny", t0)], schema
    ).repartition(1).write.parquet(str(src / "b0"), mode="overwrite")
    # parquet file stream sources discover files under the dir glob
    import shutil

    for p in (src / "b0").glob("*.parquet"):
        shutil.move(str(p), str(src / p.name))
    shutil.rmtree(src / "b0")
    drain()

    t = VersionedTable(spark, root)
    snap1 = {r["doc_id"]: r["text"] for r in t.snapshot().collect()}
    assert set(snap1) == {1, 2}  # doc 3 gated out
    v1 = t.latest_version()

    drain()  # restart with no new input: no-op on table STATE
    assert {r["doc_id"]: r["text"] for r in t.snapshot().collect()} == snap1

    # updated re-delivery of doc 1 (new text, later ts) -> row UPDATES
    upd = good + " with a brand new appended sentence about mountains"
    spark.createDataFrame([(1, upd, t0 + datetime.timedelta(minutes=1))], schema)\
        .repartition(1).write.parquet(str(src / "b1"), mode="overwrite")
    for p in (src / "b1").glob("*.parquet"):
        shutil.move(str(p), str(src / ("u_" + p.name)))
    shutil.rmtree(src / "b1")
    drain()
    snap2 = {r["doc_id"]: r["text"] for r in t.snapshot().collect()}
    assert set(snap2) == {1, 2} and snap2[1] == upd and snap2[2] == snap1[2]
    assert t.latest_version() > v1  # log grew; state stayed a function of input


def test_stream_stream_left_outer_join_emits_watermark_closed_nulls(
    spark, sf_dir, events_path
):
    """Left-outer stream-stream join: matched pairs are a subset of the
    batch range join; NULL-view rows appear ONLY for purchases the batch
    range join leaves unmatched (a NULL emission is a watermark-closure
    proof, never a false miss); and some of each kind is emitted."""
    from database_anonymiser_spark.streaming.pipeline import (
        purchase_view_join_stream,
        run_to_memory,
        stream_events,
    )

    stream = purchase_view_join_stream(
        stream_events(spark, events_path), how="left_outer"
    )
    got = run_to_memory(spark, stream, "t_ssjoin_outer", mode="append")
    ev = load(spark, sf_dir, "events")
    v = ev.where(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user_id"),
        F.col("ts").alias("view_ts"),
        F.col("event_id").alias("view_id"),
    )
    p = ev.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("purchase_ts"), F.col("event_id").alias("purchase_id")
    )
    cond = (
        (F.col("v_user_id") == F.col("user_id"))
        & (F.col("view_ts") <= F.col("purchase_ts"))
        & (F.col("view_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 30 MINUTES"))
    )
    batch_pairs = {
        (r["purchase_id"], r["view_id"]) for r in p.join(v, cond).collect()
    }
    unmatched = {
        r["purchase_id"]
        for r in p.join(v, cond, "left_anti").collect()
    }
    rows = got.collect()
    matched = {(r["purchase_id"], r["view_id"]) for r in rows if r["view_id"] is not None}
    nulls = {r["purchase_id"] for r in rows if r["view_id"] is None}
    assert matched and nulls, "outer join should emit both kinds on the fixture"
    assert matched <= batch_pairs
    assert nulls <= unmatched, "a NULL row appeared for a purchase that HAS a view match"


def test_stream_versioned_sink_inline_maintenance(spark, tmp_path):
    """compact_every/vacuum_retain on run_stream_to_versioned: a stream of
    many tiny batches keeps BOTH the live file count and the on-disk
    parquet bytes bounded (compaction bin-packs the accreted files; the
    retention vacuum reclaims superseded churn), while table state stays
    exactly the merged input."""
    import shutil

    from database_anonymiser_spark.sources.versioned import VersionedTable
    from database_anonymiser_spark.streaming.pipeline import run_stream_to_versioned

    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    root = str(tmp_path / "table")
    schema = "k long, v string"

    def feed(batch_no, rows):
        d = src / f"stage{batch_no}"
        spark.createDataFrame(rows, schema).repartition(1).write.parquet(
            str(d), mode="overwrite"
        )
        for p in d.glob("*.parquet"):
            shutil.move(str(p), str(src / f"b{batch_no}_{p.name}"))
        shutil.rmtree(d)

    def drain():
        stream = spark.readStream.schema(schema).parquet(str(src))
        run_stream_to_versioned(
            stream, root, key_col="k", checkpoint=ckpt,
            compact_every=3, vacuum_retain=2,
        )

    n_batches = 8
    for b in range(n_batches):
        feed(b, [(b * 10 + i, f"v{b}") for i in range(3)])
        drain()  # one micro-batch per drain (file source discovers one file)

    t = VersionedTable(spark, root)
    snap = {r["k"]: r["v"] for r in t.snapshot().collect()}
    assert len(snap) == n_batches * 3  # all rows present exactly once
    live = t._live_entries()
    assert len(live) < n_batches  # compaction bounded the live file count
    # retention vacuum reclaimed superseded files: everything on disk is
    # referenced by a RETAINED version, and bytes stay modest
    on_disk = {
        str(p.relative_to(t.root))
        for p in (t.root / "data").rglob("*.parquet")
    }
    retained = set()
    import database_anonymiser_spark.sources.versioned as V

    for ver in t.versions()[-2:]:
        retained |= set(V._replay(t.root, ver)[0])
    # every retained file exists, and the only surplus is the churn since
    # the LAST in-stream vacuum (bounded by batches-per-cycle, not by
    # stream lifetime — the property the knobs exist for)
    assert retained <= on_disk
    assert len(on_disk - retained) <= 2 * 3  # ≤ per-cycle churn
    # one final explicit vacuum drains the residue completely
    t.vacuum(retain_versions=2)
    on_disk2 = {
        str(p.relative_to(t.root))
        for p in (t.root / "data").rglob("*.parquet")
    }
    retained2 = set()
    for ver in t.versions()[-2:]:
        retained2 |= set(V._replay(t.root, ver)[0])
    assert on_disk2 == retained2


def test_stream_to_ann_index_ingest_and_query(spark, tmp_path):
    """Streaming vector ingest: batch 0 builds the index, later batches
    upsert (new ids insert, re-delivered ids update), and a query against
    the drained index equals the per-call index of the same accumulated
    corpus under the batch-0 codebook. Crash-restart (re-drain with no
    new files) leaves index state unchanged."""
    import shutil

    from database_anonymiser_spark.operators.index_store import VersionedAnnIndex
    from database_anonymiser_spark.operators.similarity import (
        ivf_int8_index,
        ivf_int8_topk,
    )
    from database_anonymiser_spark.streaming.pipeline import run_stream_to_ann_index

    dim = 8
    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    root = str(tmp_path / "ann")
    schema = "vec_id long, embedding array<double>"

    def vec(seed):
        return [((seed * 31 + j * 7) % 13) / 13.0 for j in range(dim)]

    def feed(batch_no, ids):
        d = src / f"stage{batch_no}"
        spark.createDataFrame([(i, vec(i)) for i in ids], schema).repartition(
            1
        ).write.parquet(str(d), mode="overwrite")
        for p in d.glob("*.parquet"):
            shutil.move(str(p), str(src / f"b{batch_no}_{p.name}"))
        shutil.rmtree(d)

    def drain():
        stream = spark.readStream.schema(schema).parquet(str(src))
        run_stream_to_ann_index(
            stream, root, "vec_id", "embedding", ckpt, n_centroids=4, n_iter=2
        )

    feed(0, range(0, 20))
    drain()  # build 0
    feed(1, range(20, 35))
    drain()  # upsert
    feed(2, [5, 6, 40, 41])  # re-delivery of 5,6 + new ids
    drain()

    idx = VersionedAnnIndex(spark, root)
    assert len(idx.versions()) == 3
    all_ids = set(range(0, 35)) | {40, 41}
    assert idx.table.row_count() == len(all_ids)

    corpus = spark.createDataFrame([(i, vec(i)) for i in sorted(all_ids)], schema)
    got = idx.query(corpus, "vec_id", "embedding", query_id=7, k=5).collect()
    cb = idx.centroids(0)  # batch-0 codebook governs every upsert
    ref = ivf_int8_topk(
        ivf_int8_index(corpus, "vec_id", "embedding", cb),
        corpus, "vec_id", "embedding", 7, cb, k=5,
    ).collect()
    assert [(r["vec_id"], r["cosine"]) for r in got] == [
        (r["vec_id"], r["cosine"]) for r in ref
    ]

    drain()  # restart with no new input: no state change
    assert idx.table.row_count() == len(all_ids)
    assert len(idx.versions()) == 3


def test_stream_versioned_sink_vacuum_without_compaction(spark, tmp_path):
    """vacuum_retain fires WITHOUT compact_every (round-6 advice: the two
    maintenance knobs are independent — a stream configured with only
    vacuum_retain must not grow disk unboundedly): after draining, the
    on-disk surplus over the retained versions' live sets is bounded by
    the per-cycle churn, not the stream's lifetime."""
    import shutil

    import database_anonymiser_spark.sources.versioned as V
    from database_anonymiser_spark.sources.versioned import VersionedTable
    from database_anonymiser_spark.streaming.pipeline import run_stream_to_versioned

    src = tmp_path / "src"
    src.mkdir()
    schema = "k long, v string"

    def feed(batch_no, rows):
        d = src / f"stage{batch_no}"
        spark.createDataFrame(rows, schema).repartition(1).write.parquet(
            str(d), mode="overwrite"
        )
        for p in d.glob("*.parquet"):
            shutil.move(str(p), str(src / f"b{batch_no}_{p.name}"))
        shutil.rmtree(d)

    root = str(tmp_path / "table")
    for b in range(6):
        # overlapping keys -> every batch is copy-on-write churn
        feed(b, [(i, f"v{b}") for i in range(3)])
        stream = spark.readStream.schema(schema).parquet(str(src))
        run_stream_to_versioned(
            stream, root, key_col="k",
            checkpoint=str(tmp_path / "ckpt"), vacuum_retain=2,
        )

    t = VersionedTable(spark, root)
    assert {r["k"]: r["v"] for r in t.snapshot().collect()} == {
        i: "v5" for i in range(3)
    }
    on_disk = {
        str(p.relative_to(t.root)) for p in (t.root / "data").rglob("*.parquet")
    }
    retained = set()
    for ver in t.versions()[-2:]:
        retained |= set(V._replay(t.root, ver)[0])
    assert retained <= on_disk
    # without the fix nothing is ever vacuumed and the surplus grows with
    # EVERY batch; with it the residue is one maintenance cycle's churn
    assert len(on_disk - retained) <= 4


def test_stream_versioned_sink_maintains_incremental_view(spark, tmp_path):
    """refresh_views on run_stream_to_versioned: a pre-created
    IncrementalAggView stays exactly the from-scratch aggregate of the
    table after EVERY drained batch (including merges that move rows
    between groups), and a crash-replayed batch advances neither the
    table state nor the view (double exactly-once: merge idempotency +
    view cursor)."""
    import shutil

    from database_anonymiser_spark.operators.ivm import IncrementalAggView
    from database_anonymiser_spark.sources.versioned import VersionedTable
    from database_anonymiser_spark.streaming.pipeline import run_stream_to_versioned

    src = tmp_path / "src"
    src.mkdir()
    schema = "k long, g string, v double"
    root = str(tmp_path / "table")
    vroot = str(tmp_path / "view")

    def feed(batch_no, rows):
        d = src / f"stage{batch_no}"
        spark.createDataFrame(rows, schema).repartition(1).write.parquet(
            str(d), mode="overwrite"
        )
        for p in d.glob("*.parquet"):
            shutil.move(str(p), str(src / f"b{batch_no}_{p.name}"))
        shutil.rmtree(d)

    def drain():
        stream = spark.readStream.schema(schema).parquet(str(src))
        run_stream_to_versioned(
            stream, root, key_col="k", checkpoint=str(tmp_path / "ckpt"),
            refresh_views=(vroot,),
        )

    def check():
        t = VersionedTable(spark, root)
        want = {
            r["g"]: (r["n"], r["s"])
            for r in t.snapshot()
            .groupBy("g")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("v").cast("decimal(18,2)")).cast("double").alias("s"),
            )
            .collect()
        }
        view = IncrementalAggView(spark, vroot)
        got = {
            r["g"]: (r["n_rows"], r["sum_value"]) for r in view.snapshot().collect()
        }
        assert got == want

    # batch 0 creates the table; the view is created right after it
    feed(0, [(i, f"g{i % 2}", float(i)) for i in range(6)])
    drain()
    IncrementalAggView.create(
        spark, vroot, VersionedTable(spark, root), "g", "v"
    )
    check()
    # batch 1 inserts a new group; batch 2 MOVES key 1 to g2 (update)
    feed(1, [(10, "g2", 5.0), (11, "g0", 1.0)])
    drain()
    check()
    feed(2, [(1, "g2", 100.0)])
    drain()
    check()
    # replay: re-draining with a FRESH checkpoint re-delivers every file;
    # merge idempotency + the view cursor keep both states unchanged
    view_v = IncrementalAggView(spark, vroot).table.latest_version()
    stream = spark.readStream.schema(schema).parquet(str(src))
    run_stream_to_versioned(
        stream, root, key_col="k", checkpoint=str(tmp_path / "ckpt2"),
        refresh_views=(vroot,),
    )
    check()
    # the replay commits table versions (merge audit trail) but the view
    # advanced at most once (its content unchanged - checked above)
    assert IncrementalAggView(spark, vroot).table.latest_version() <= view_v + 1


def test_stream_versioned_sink_view_refresh_survives_vacuum(spark, tmp_path):
    """Round-7 advice (high): refresh_views combined with aggressive
    in-line maintenance (compact_every=1, vacuum_retain=1). The view
    refresh consumes update PRE-IMAGE files; refreshing after the merge
    but BEFORE compact/vacuum — with retention clamped to cover the view
    cursor — must keep every batch's refresh readable. Pre-fix ordering
    (refresh last) crashed on vacuumed parquet paths on every vacuum
    batch; the view must instead stay ≡ the from-scratch aggregate
    through repeated update+compact+vacuum batches."""
    import shutil

    from database_anonymiser_spark.operators.ivm import IncrementalAggView
    from database_anonymiser_spark.sources.versioned import VersionedTable
    from database_anonymiser_spark.streaming.pipeline import run_stream_to_versioned

    src = tmp_path / "src"
    src.mkdir()
    schema = "k long, g string, v double"
    root = str(tmp_path / "table")
    vroot = str(tmp_path / "view")

    def feed(batch_no, rows):
        d = src / f"stage{batch_no}"
        spark.createDataFrame(rows, schema).repartition(1).write.parquet(
            str(d), mode="overwrite"
        )
        for p in d.glob("*.parquet"):
            shutil.move(str(p), str(src / f"b{batch_no}_{p.name}"))
        shutil.rmtree(d)

    def drain():
        stream = spark.readStream.schema(schema).parquet(str(src))
        run_stream_to_versioned(
            stream, root, key_col="k", checkpoint=str(tmp_path / "ckpt"),
            compact_every=1, vacuum_retain=1, refresh_views=(vroot,),
        )

    def check():
        t = VersionedTable(spark, root)
        want = {
            r["g"]: (r["n"], r["s"])
            for r in t.snapshot()
            .groupBy("g")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("v").cast("decimal(18,2)")).cast("double").alias("s"),
            )
            .collect()
        }
        view = IncrementalAggView(spark, vroot)
        got = {
            r["g"]: (r["n_rows"], r["sum_value"]) for r in view.snapshot().collect()
        }
        assert got == want

    feed(0, [(i, f"g{i % 2}", float(i)) for i in range(8)])
    drain()
    IncrementalAggView.create(spark, vroot, VersionedTable(spark, root), "g", "v")
    # every subsequent batch UPDATES existing keys (pre-images!) and
    # inserts one new key, then compacts and vacuums in the same batch
    for b in range(1, 4):
        feed(b, [(b, "g0", 100.0 * b), (b + 1, "g1", -10.0 * b), (100 + b, "g2", 1.0)])
        drain()
        check()
    # retention stayed tight: far-past versions are not time-travelable
    t = VersionedTable(spark, root)
    with pytest.raises(Exception):
        t.snapshot(0).collect()


def test_stream_to_scd2_matches_batch_apply_and_replays_idempotently(
    spark, tmp_path
):
    """run_stream_to_scd2 (round-7 verdict stretch): draining extracts
    through the streaming sink must build EXACTLY the dimension history
    batch scd2_apply builds from the same extract sequence — closes,
    opens, validity intervals, as-of reconstruction — and a full replay
    (fresh checkpoint, same files) must change nothing (exactly-once by
    apply semantics: unchanged images produce no commit)."""
    import shutil

    from database_anonymiser_spark.operators.scd import (
        scd2_apply,
        scd2_as_of,
        scd2_init,
    )
    from database_anonymiser_spark.sources.versioned import VersionedTable
    from database_anonymiser_spark.streaming.pipeline import run_stream_to_scd2

    src = tmp_path / "src"
    src.mkdir()
    schema = "cust_id long, segment string, city string, ts string"
    sroot = str(tmp_path / "dim_stream")
    broot = str(tmp_path / "dim_batch")
    tracked = ("segment",)

    extracts = [
        # extract 0: initial images
        [(1, "basic", "rome", "2024-01-01"), (2, "gold", "oslo", "2024-01-01")],
        # extract 1: cust 1 changes segment (history!), cust 3 is new;
        # cust 2 re-delivered unchanged (must produce nothing); cust 1
        # also churns WITHIN the batch - only the latest image applies
        [
            (1, "silver", "rome", "2024-02-01"),
            (1, "gold", "rome", "2024-02-15"),
            (2, "gold", "oslo", "2024-02-10"),
            (3, "basic", "kyiv", "2024-02-20"),
        ],
        # extract 2: untracked drift only (city) - no history rows
        [(2, "gold", "bergen", "2024-03-05")],
    ]

    def feed(i, rows):
        d = src / f"stage{i}"
        spark.createDataFrame(rows, schema).repartition(1).write.parquet(
            str(d), mode="overwrite"
        )
        for p in d.glob("*.parquet"):
            shutil.move(str(p), str(src / f"b{i}_{p.name}"))
        shutil.rmtree(d)

    def drain(ckpt="ckpt"):
        stream = spark.readStream.schema(schema).parquet(str(src))
        run_stream_to_scd2(
            stream, sroot, "cust_id", tracked,
            checkpoint=str(tmp_path / ckpt), ts_col="ts",
        )

    # drive the stream extract by extract; mirror with batch applies
    # (collapsing intra-batch churn to the latest image, as the sink does)
    for i, rows in enumerate(extracts):
        feed(i, rows)
        drain()
        latest = {}
        for r in sorted(rows, key=lambda r: r[3]):
            latest[r[0]] = r
        img = spark.createDataFrame(sorted(latest.values()), schema)
        ts = max(r[3] for r in rows)
        if i == 0:
            scd2_init(spark, broot, img, "cust_id", ts)
        else:
            scd2_apply(
                VersionedTable(spark, broot), img, "cust_id", tracked, ts
            )

    def hist(root):
        return sorted(
            tuple(r)
            for r in VersionedTable(spark, root).snapshot()
            .select("cust_id", "segment", "city", "_valid_from", "_valid_to",
                    "_is_current")
            .collect()
        )

    assert hist(sroot) == hist(broot)
    h = hist(sroot)
    # cust 1 has history: basic closed at 2024-02-15, gold open
    c1 = [r for r in h if r[0] == 1]
    assert len(c1) == 2
    assert {(r[1], r[5]) for r in c1} == {("basic", False), ("gold", True)}
    # untracked city drift created no history for cust 2
    assert len([r for r in h if r[0] == 2]) == 1
    # as-of reconstruction crosses the change boundary
    sdim = VersionedTable(spark, sroot)
    assert {
        (r["cust_id"], r["segment"])
        for r in scd2_as_of(sdim, "2024-01-15").collect()
    } == {(1, "basic"), (2, "gold")}

    # full replay with a fresh checkpoint: same files re-delivered as one
    # batch; every image is unchanged vs current -> no commit, no drift
    v = sdim.latest_version()
    drain("ckpt2")
    assert hist(sroot) == h
    assert VersionedTable(spark, sroot).latest_version() == v


def _nd_doc(seed, nw=40):
    return " ".join(f"w{seed}_{i}" for i in range(nw))


def _nd_neardup(seed, nw=40):
    ws = [f"w{seed}_{i}" for i in range(nw)]
    ws[-1] = "CHANGED"
    return " ".join(ws)


def _nd_feed(spark, base, src, bno, rows):
    import glob
    import shutil

    d = str(base / f"stage{bno}")
    spark.createDataFrame(rows, "id long, text string").repartition(1).write.parquet(
        d, mode="overwrite"
    )
    for i, p in enumerate(glob.glob(d + "/*.parquet")):
        shutil.move(p, str(src / f"b{bno}_{i}.parquet"))
    shutil.rmtree(d)


def test_stream_neardedup_cross_batch_and_replay(spark, tmp_path):
    """Streaming MinHash near-dedup against the versioned signature
    store: exact and near duplicates of documents from EARLIER batches
    are dropped (state spans the whole stream, not a watermark horizon),
    in-batch near-dup pairs keep the min id, short docs pass through,
    and the store holds bands only for kept signature-bearing docs.
    Restart with no new input is a no-op; a full from-scratch REPLAY
    (checkpoint wiped, same tables) re-derives the same decisions and
    merges idempotently — out and store state unchanged."""
    import shutil

    from database_anonymiser_spark.sources.versioned import VersionedTable
    from database_anonymiser_spark.streaming.pipeline import run_stream_neardedup

    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out_root = str(tmp_path / "out")
    store_root = str(tmp_path / "store")

    def drain():
        stream = spark.readStream.schema("id long, text string").parquet(str(src))
        run_stream_neardedup(stream, out_root, store_root, ckpt, threshold=0.5)

    _nd_feed(spark, tmp_path, src, 1,
             [(1, _nd_doc("a")), (2, _nd_doc("b")), (3, _nd_doc("c")), (4, _nd_doc("d"))])
    drain()
    # 5 near-dups B1's doc 1; 6 is an EXACT copy of doc 2's text; 7 new
    _nd_feed(spark, tmp_path, src, 2,
             [(5, _nd_neardup("a")), (6, _nd_doc("b")), (7, _nd_doc("e"))])
    drain()
    # 8 near-dups B2's doc 7; 9/10 are an IN-batch near-dup pair (min id
    # 9 survives); 11 is sub-shingle-length (no signature -> passes)
    _nd_feed(spark, tmp_path, src, 3,
             [(8, _nd_neardup("e")), (9, _nd_doc("f")), (10, _nd_neardup("f")),
              (11, "a b")])
    drain()

    out = VersionedTable(spark, out_root)
    kept = sorted(r["id"] for r in out.snapshot().select("id").collect())
    assert kept == [1, 2, 3, 4, 7, 9, 11]
    store = VersionedTable(spark, store_root)
    # 6 kept docs carry signatures (11 is short) x 4 bands of the
    # 8-function family
    assert store.snapshot().count() == 6 * 4
    assert store.stats_cols() == ("bk",)

    # restart, no new input: no-op
    v_out, v_store = out.latest_version(), store.latest_version()
    drain()
    assert out.latest_version() == v_out and store.latest_version() == v_store

    # full replay from scratch against the SAME tables: every batch
    # re-delivered; decisions re-derive (docs never match their own
    # stored signatures - id-inequality guard) and merges rewrite
    # identical rows
    shutil.rmtree(ckpt)
    drain()
    assert sorted(r["id"] for r in out.snapshot().select("id").collect()) == kept
    assert store.snapshot().count() == 6 * 4


def test_stream_neardedup_store_probe_bounded(spark, tmp_path):
    """The 100 TB property of the signature store: after the in-sink
    Z-ORDER re-cluster on ``bk``, a new batch's probe + point-skipped
    merges read a BOUNDED number of store files — at most one per probed
    bucket / merged key, not the store's live file count."""
    import database_anonymiser_spark.sources.versioned as V
    from database_anonymiser_spark.sources.versioned import VersionedTable
    from database_anonymiser_spark.streaming.pipeline import run_stream_neardedup

    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out_root = str(tmp_path / "out")
    store_root = str(tmp_path / "store")

    def drain():
        stream = spark.readStream.schema("id long, text string").parquet(str(src))
        run_stream_neardedup(
            stream, out_root, store_root, ckpt, threshold=0.5,
            store_zorder_every=5,
        )

    nid = 0
    for b in range(1, 6):
        rows = []
        for j in range(4):
            nid += 1
            rows.append((nid, _nd_doc(f"s{b}_{j}")))
        _nd_feed(spark, tmp_path, src, b, rows)
        drain()

    store = VersionedTable(spark, store_root)
    n_live = len(store._live_entries())
    assert n_live >= 6  # zorder re-clustered into its target file count
    assert store.snapshot().count() == 20 * 4

    f0 = V.DATA_FILES_READ
    _nd_feed(spark, tmp_path, src, 6, [(999, _nd_doc("fresh"))])
    drain()
    delta = V.DATA_FILES_READ - f0
    # 1 doc = 4 band buckets: probe <= 4 files (one per bucket after the
    # re-cluster; buckets co-located in one file share the read) + store
    # point-merge <= 4 + out point-merge <= 1 = 9 worst case; measured 6
    # after the straddle-file probe fix (round 8). The range-skipped /
    # unclustered alternative reads every live file ON TOP of that.
    assert delta <= 6, (delta, n_live)
    assert VersionedTable(spark, out_root).snapshot().count() == 21


def test_neardedup_backfill_probe_cap_fallback(spark, tmp_path, monkeypatch):
    """Round-8 verdict #1: above ``PROBE_KEY_CAP`` distinct band-bucket
    keys, the store probe must NOT collect the batch's key set to the
    driver (a 10M-doc backfill batch would ship ~40M int64s) — it
    range-prunes the store by the batch's bk bounds and joins
    distributedly. Final out/store state must be IDENTICAL to the
    point-lookup path on the same batch sequence, and the collect the
    point path does is itself limit-bounded to cap+1 rows."""
    import database_anonymiser_spark.streaming.pipeline as P
    from database_anonymiser_spark.sources.versioned import VersionedTable

    batches = [
        [(1, _nd_doc("a")), (2, _nd_doc("b")), (3, _nd_doc("c"))],
        # 4 near-dups stored doc 1; 5 is exact of stored 2; 6/7 are an
        # IN-batch near-dup pair (min id 6 survives); 8 is fresh
        [(4, _nd_neardup("a")), (5, _nd_doc("b")), (6, _nd_doc("d")),
         (7, _nd_neardup("d")), (8, _nd_doc("e"))],
        [(9, _nd_neardup("b")), (10, _nd_doc("f"))],
    ]

    def lifecycle(tag):
        out_root = str(tmp_path / f"out_{tag}")
        store_root = str(tmp_path / f"store_{tag}")
        for rows in batches:
            df = spark.createDataFrame(rows, "id long, text string")
            P.apply_neardedup_batch(
                spark, df, out_root, store_root, threshold=0.5
            )
        kept = sorted(
            r["id"]
            for r in VersionedTable(spark, out_root).snapshot().select("id").collect()
        )
        sig = sorted(
            (r["id"], r["band_id"], r["bk"])
            for r in VersionedTable(spark, store_root).snapshot().collect()
        )
        return kept, sig

    kept_pt, sig_pt = lifecycle("pt")
    assert set(kept_pt).isdisjoint({4, 5, 7, 9})  # dups actually dropped
    # cap of 1: every signature-bearing batch exceeds it (4 buckets/doc)
    monkeypatch.setattr(P, "PROBE_KEY_CAP", 1)
    kept_fb, sig_fb = lifecycle("fb")
    assert kept_fb == kept_pt
    assert sig_fb == sig_pt


def test_stream_curate_then_neardedup_pipeline(spark, tmp_path):
    """END-TO-END streaming ingest: curate_stream's per-document gates +
    watermarked EXACT dedup feed run_stream_neardedup's corpus-lifetime
    NEAR dedup — the full continuous training-data ingest composition.
    Sub-length docs fall to the token gate, an exact re-post (same text,
    new id, inside the watermark) falls to the fingerprint state, a
    cross-batch near-dup falls to the signature store, and the out table
    holds exactly the curated survivors with their curation columns."""
    import datetime
    import glob
    import shutil

    from database_anonymiser_spark.sources.versioned import VersionedTable
    from database_anonymiser_spark.streaming.pipeline import (
        curate_stream,
        run_stream_neardedup,
    )

    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out_root = str(tmp_path / "out")
    store_root = str(tmp_path / "store")
    t0 = datetime.datetime(2024, 1, 1, 12, 0, 0)

    def feed(bno, rows):
        d = str(tmp_path / f"stage{bno}")
        spark.createDataFrame(
            [(i, t, t0 + datetime.timedelta(minutes=m)) for i, t, m in rows],
            "doc_id long, text string, ts timestamp",
        ).repartition(1).write.parquet(d, mode="overwrite")
        for i, p in enumerate(glob.glob(d + "/*.parquet")):
            shutil.move(p, str(src / f"b{bno}_{i}.parquet"))
        shutil.rmtree(d)

    def drain():
        stream = spark.readStream.schema(
            "doc_id long, text string, ts timestamp"
        ).parquet(str(src))
        curated = curate_stream(
            stream, min_tokens=5, drop_boilerplate=False, watermark="1 hour"
        )
        run_stream_neardedup(
            curated, out_root, store_root, ckpt,
            id_col="doc_id", text_col="text", threshold=0.5,
        )

    feed(1, [
        (1, _nd_doc("a"), 0),
        (2, _nd_doc("b"), 1),
        (3, "too short", 2),              # token gate (< 5 tokens)
    ])
    drain()
    feed(2, [
        (4, _nd_doc("a"), 5),             # EXACT re-post of doc 1 -> fingerprint state
        (5, _nd_neardup("b"), 6),         # NEAR-dup of doc 2 -> signature store
        (6, _nd_doc("c"), 7),
    ])
    drain()

    out = VersionedTable(spark, out_root)
    kept = sorted(r["doc_id"] for r in out.snapshot().select("doc_id").collect())
    assert kept == [1, 2, 6]
    # curation columns ride through the sink into the out table
    cols = set(out.snapshot().columns)
    assert {"doc_id", "text", "n_tokens", "quality_score", "lang_pred",
            "fingerprint"} <= cols


def test_neardedup_forget_document(spark, monkeypatch, tmp_path):
    """Round 9: per-document right-to-be-forgotten over the near-dedup
    pipeline — the doc leaves the OUT table via a point-skipped
    delete-merge and its band signatures leave the STORE via the 'id'
    bloom index + deletion vectors, touching a bounded file set (the
    store is clustered by bk, where the doc's rows are scattered — range
    stats alone cannot find them). Forgetting also forgets the dedup
    MEMORY: a later near-duplicate of the forgotten text is ADMITTED
    (keeping the signature would retain a fingerprint of erased
    content)."""
    import database_anonymiser_spark.sources.versioned as V
    import database_anonymiser_spark.streaming.pipeline as P
    from database_anonymiser_spark.sources.versioned import VersionedTable

    out_root = str(tmp_path / "out")
    store_root = str(tmp_path / "store")
    rows = [(i, _nd_doc(f"d{i}")) for i in range(1, 25)]
    P.apply_neardedup_batch(
        spark, spark.createDataFrame(rows, "id long, text string"),
        out_root, store_root, threshold=0.5, zorder_store=True,
    )
    out = VersionedTable(spark, out_root)
    store = VersionedTable(spark, store_root)
    assert out.snapshot().count() == 24
    n_sig = store.snapshot().count()
    n_live = len(store._live_entries())

    # 8 of this small store's rows: a share that lets the cost rule
    # mark them with deletion vectors
    monkeypatch.setattr(V, "DV_MAX_SHARE", 0.25)
    meta = P.neardedup_forget(spark, out_root, store_root, [7, 13])
    assert meta["out_deleted"] == 2
    assert meta["store_rows_marked"] == 2 * 4  # 4 bands per doc
    # bloom-pruned touch set, not a store scan
    assert 0 < meta["store_files_touched"] <= max(2, n_live - 1)
    assert sorted(r["id"] for r in out.snapshot().select("id").collect()) == [
        i for i in range(1, 25) if i not in (7, 13)
    ]
    assert store.snapshot().where(F.col("id").isin(7, 13)).count() == 0
    assert store.snapshot().count() == n_sig - 8
    # deletion vectors: signatures left WITHOUT rewriting the store files
    assert any(e.get("dv") for e in store._live_entries())

    # dedup memory is forgotten: a near-dup of doc 7's text is ADMITTED,
    # while a near-dup of a retained doc is still dropped
    P.apply_neardedup_batch(
        spark,
        spark.createDataFrame(
            [(100, _nd_neardup("d7")), (101, _nd_neardup("d2"))],
            "id long, text string",
        ),
        out_root, store_root, threshold=0.5,
    )
    kept = {r["id"] for r in out.snapshot().select("id").collect()}
    assert 100 in kept      # forgotten fingerprint cannot haunt
    assert 101 not in kept  # retained docs still dedup

    # idempotent / empty
    again = P.neardedup_forget(spark, out_root, store_root, [7])
    assert again["out_deleted"] == 0 and again["store_rows_marked"] == 0
    assert P.neardedup_forget(spark, out_root, store_root, []) == {
        "out_deleted": 0, "store_files_touched": 0, "store_rows_marked": 0,
    }


def test_medallion_bronze_silver_gold(spark, tmp_path):
    """The full warehouse composition on the engine's own primitives:
    BRONZE = streaming ingest (file stream → merge sink), SILVER = CDC
    replication of bronze through the format("versioned") change feed,
    GOLD = incremental aggregate view maintained off silver. After every
    trickle: silver ≡ bronze, gold ≡ from-scratch aggregate of silver;
    a no-input re-drain moves no tier."""
    import shutil

    from database_anonymiser_spark.operators.ivm import IncrementalAggView
    from database_anonymiser_spark.sources.versioned import VersionedTable
    from database_anonymiser_spark.streaming.pipeline import (
        run_stream_replicate,
        run_stream_to_versioned,
    )

    src = tmp_path / "src"
    src.mkdir()
    bronze_root = str(tmp_path / "bronze")
    silver_root = str(tmp_path / "silver")
    gold_root = str(tmp_path / "gold")
    ck_b, ck_s = str(tmp_path / "ckb"), str(tmp_path / "cks")
    schema = "k long, grp string, amt double"

    def feed(rows, tag):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(src / tag), mode="overwrite"
        )
        for p in (src / tag).glob("*.parquet"):
            shutil.move(str(p), str(src / f"{tag}_{p.name}"))
        shutil.rmtree(src / tag)

    def drain_all():
        stream = spark.readStream.schema(schema).parquet(str(src))
        run_stream_to_versioned(stream, bronze_root, key_col="k", checkpoint=ck_b)
        run_stream_replicate(spark, bronze_root, silver_root, ck_s)

    def _rows(df):
        return sorted(tuple(r) for r in df.collect())

    feed([(i, f"g{i % 3}", float(i)) for i in range(30)], "b0")
    drain_all()
    bronze = VersionedTable(spark, bronze_root)
    silver = VersionedTable(spark, silver_root)
    assert _rows(silver.snapshot()) == _rows(bronze.snapshot())

    gold = IncrementalAggView.create(
        spark, gold_root, silver, group_col="grp", sum_col="amt", minmax=True
    )

    def gold_expected():
        return _rows(
            silver.snapshot().groupBy("grp").agg(
                F.count("*").alias("n_rows"),
                F.sum("amt").alias("sum_value"),
                F.min("amt").alias("min_value"),
                F.max("amt").alias("max_value"),
            )
        )

    def gold_actual():
        return _rows(
            gold.snapshot().select(
                "grp", "n_rows", "sum_value", "min_value", "max_value"
            )
        )

    assert gold_actual() == gold_expected()

    # trickle 2: updates (k<5 re-keyed amounts) + new keys + a new group
    feed(
        [(k, f"g{k % 3}", 100.0 + k) for k in range(5)]
        + [(100 + i, "g9", 7.0) for i in range(4)],
        "b1",
    )
    drain_all()
    gold.refresh(silver)
    assert _rows(silver.snapshot()) == _rows(bronze.snapshot())
    assert gold_actual() == gold_expected()
    assert silver.snapshot().where("grp = 'g9'").count() == 4

    # no-input re-drain: every tier's version is untouched
    vb, vs, vg = (
        bronze.latest_version(),
        silver.latest_version(),
        gold.table.latest_version(),
    )
    drain_all()
    gold.refresh(silver)
    assert (
        bronze.latest_version(),
        silver.latest_version(),
        gold.table.latest_version(),
    ) == (vb, vs, vg)
