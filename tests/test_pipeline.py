"""End-to-end tests of the faithful pipeline: configGen → plan → dryrun → apply."""

from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from database_anonymiser_spark.catalog import ParquetCatalog, footer_stats
from database_anonymiser_spark.config import (
    ConfigValidationError,
    config_from_dict,
    read_generated_config,
    write_yaml,
)
from database_anonymiser_spark.config_gen import generate_config, mask_sample_value
from database_anonymiser_spark.executor import execute_plan
from database_anonymiser_spark.planner import build_plan, resolve_strategy
from database_anonymiser_spark.preflight import PreflightError, preflight_validate
from database_anonymiser_spark.safeguards import (
    RowCapExceeded,
    bounded_collect,
    enforce_row_cap,
)
from database_anonymiser_spark.sql_gen import emit_sql_script


@pytest.fixture(scope="module")
def catalog(spark, sf_dir):
    return ParquetCatalog(spark, sf_dir)


def base_config_dict(**over):
    d = {
        "version": 1,
        "reviewed": True,
        "scope": {"schema": "public", "denylist": []},
        "column_strategy": {"c_name": "HASH_SHA256", "c_mktsegment": "REDACT"},
        "rules": [
            {
                "table": "public.customer",
                "enabled": True,
                "columns": [
                    {"name": "c_custkey"},
                    {"name": "c_name"},
                    {"name": "c_mktsegment"},
                    {"name": "c_acctbal", "strategy": "SET_NULL"},
                ],
            }
        ],
    }
    d.update(over)
    return d


def test_config_validation_rejects_bad_strategy():
    with pytest.raises(ConfigValidationError):
        config_from_dict(base_config_dict(column_strategy={"x": "NOT_A_STRATEGY"}))
    with pytest.raises(ConfigValidationError):
        # reference orientation with a bad strategy key holding a list
        config_from_dict(base_config_dict(column_strategy={"NOT_A_STRATEGY": ["c_name"]}))


def test_reference_shaped_config_is_accepted():
    """A YAML in the reference's exact shape (generated-config.types.ts:25-44:
    strategy→[columns], denylistTables, samples.masked, generatedAt, column
    entries keyed 'column') must normalize to the same internal config."""
    ref_shaped = {
        "version": 1,
        "generatedAt": "2024-01-01T00:00:00Z",
        "reviewed": True,
        "scope": {"schema": "public", "denylistTables": ["lineitem"]},
        "samples": {"limit": 3, "masked": True},
        "column_strategy": {
            "HASH_SHA256": ["c_name"],
            "REDACT": ["c_mktsegment"],
        },
        "rules": [
            {
                "table": "public.customer",
                "enabled": True,
                "columns": [
                    {"column": "c_custkey"},
                    {"column": "c_name"},
                    {"column": "c_mktsegment"},
                    {"column": "c_acctbal", "strategy": "SET_NULL"},
                ],
            }
        ],
    }
    cfg = config_from_dict(ref_shaped)
    assert cfg.column_strategy == {"c_name": "HASH_SHA256", "c_mktsegment": "REDACT"}
    assert cfg.scope.denylist == ["lineitem"]
    assert cfg.samples["unsafe"] is False
    assert cfg.generated_at == "2024-01-01T00:00:00Z"
    assert [c.name for c in cfg.rules[0].columns] == [
        "c_custkey", "c_name", "c_mktsegment", "c_acctbal",
    ]
    # same plan as the internal-shaped equivalent
    plan = build_plan(cfg)
    internal = build_plan(config_from_dict(base_config_dict()))
    assert [(c.column, c.strategy) for c in plan.tables[0].columns] == [
        (c.column, c.strategy) for c in internal.tables[0].columns
    ]


def test_strategy_resolution_precedence():
    # explicit > global > KEEP  (plan-builder.ts:19-47)
    assert resolve_strategy("c_name", "REDACT", {"c_name": "HASH_SHA256"})[0] == "REDACT"
    assert resolve_strategy("c_name", None, {"c_name": "HASH_SHA256"})[0] == "HASH_SHA256"
    assert resolve_strategy("other", None, {"c_name": "HASH_SHA256"})[0] == "KEEP"


def test_plan_filters_disabled_and_denylisted():
    d = base_config_dict()
    d["rules"].append({"table": "public.orders", "enabled": False, "columns": []})
    d["rules"].append({"table": "public.lineitem", "enabled": True, "columns": []})
    d["scope"]["denylist"] = ["lineitem"]  # bare-name match (plan-builder.ts:75)
    plan = build_plan(config_from_dict(d))
    assert [t.table for t in plan.tables] == ["public.customer"]


def test_preflight_gates():
    cfg = config_from_dict(base_config_dict(reviewed=False))
    preflight_validate(cfg, "dryrun")
    with pytest.raises(PreflightError, match="reviewed"):
        preflight_validate(cfg, "apply")
    with pytest.raises(PreflightError, match="version"):
        preflight_validate(config_from_dict(base_config_dict(version=2)), "dryrun")
    with pytest.raises(PreflightError, match="column_strategy"):
        preflight_validate(config_from_dict(base_config_dict(column_strategy={})), "dryrun")
    no_enabled = base_config_dict()
    no_enabled["rules"][0]["enabled"] = False
    with pytest.raises(PreflightError, match="enabled"):
        preflight_validate(config_from_dict(no_enabled), "dryrun")


def test_dryrun_counts_without_writing(catalog, tmp_path):
    plan = build_plan(config_from_dict(base_config_dict()))
    res = execute_plan(catalog, plan, dryrun=True)
    assert res.updated_by_table == {"public.customer": 150}
    assert res.total_rows == 150


def test_apply_writes_masked_parquet(catalog, spark, tmp_path):
    plan = build_plan(config_from_dict(base_config_dict()))
    res = execute_plan(catalog, plan, dryrun=False, output_root=tmp_path)
    assert res.total_rows == 150
    out = spark.read.parquet(str(tmp_path / "customer.parquet"))
    rows = out.orderBy("c_custkey").limit(3).collect()
    assert all(len(r["c_name"]) == 32 for r in rows)        # md5 hex
    assert all(r["c_mktsegment"] == "***" for r in rows)    # REDACT
    assert all(r["c_acctbal"] is None for r in rows)        # SET_NULL
    assert out.schema["c_acctbal"].dataType.simpleString() == "double"  # type preserved
    assert out.count() == 150


def test_zero_active_rewrites_skips_table(catalog):
    d = base_config_dict(column_strategy={"nope": "REDACT"})
    d["rules"][0]["columns"] = [{"name": "c_custkey"}, {"name": "c_name"}]
    plan = build_plan(config_from_dict(d))
    res = execute_plan(catalog, plan, dryrun=True)
    assert res.tables[0].skipped is True
    assert res.updated_by_table == {}


def test_type_safety_downgrade_reported(catalog):
    # REDACT on NUMBER column downgrades to KEEP with a recorded reason
    d = base_config_dict(column_strategy={"c_acctbal": "REDACT", "c_name": "HASH_SHA256"})
    d["rules"][0]["columns"] = [{"name": "c_acctbal"}, {"name": "c_name"}]
    plan = build_plan(config_from_dict(d))
    res = execute_plan(catalog, plan, dryrun=True)
    tr = res.tables[0]
    assert tr.downgrades and tr.downgrades[0]["column"] == "c_acctbal"
    assert tr.rows == 150  # hash on c_name still active


def test_apply_is_all_or_nothing(catalog, tmp_path):
    """A failure on ANY table promotes NOTHING — the reference wraps the
    whole apply in one transaction (main.ts:102-111 BEGIN…COMMIT, ROLLBACK
    on error). Here: customer would succeed, ghost fails at read, supplier
    would succeed → zero tables in the output root, no staging left behind."""
    d = base_config_dict()
    d["column_strategy"]["s_name"] = "HASH_SHA256"
    d["rules"].append(
        {"table": "public.ghost", "enabled": True, "columns": [{"name": "c_name"}]}
    )
    d["rules"].append(
        {"table": "public.supplier", "enabled": True, "columns": [{"name": "s_name"}]}
    )
    plan = build_plan(config_from_dict(d))
    res = execute_plan(catalog, plan, dryrun=False, output_root=tmp_path, force=True)
    assert res.rolled_back is True
    assert [tr.table for tr in res.failed_tables] == ["public.ghost"]
    assert res.updated_by_table == {} and res.total_rows == 0
    assert list(tmp_path.iterdir()) == []  # nothing promoted, stagings cleaned


def test_apply_write_failure_removes_every_staging(catalog, tmp_path, monkeypatch):
    """A table whose staged write fails after partial output landed rolls
    the whole apply back: no table promoted, no staging left behind."""
    from pyspark.sql.readwriter import DataFrameWriter

    d = base_config_dict()
    d["column_strategy"]["s_name"] = "HASH_SHA256"
    d["rules"].append(
        {"table": "public.supplier", "enabled": True, "columns": [{"name": "s_name"}]}
    )
    real = DataFrameWriter.parquet

    def failing(self, path, *a, **kw):
        real(self, path, *a, **kw)
        if "_staging_supplier" in str(path):
            raise RuntimeError("simulated write failure")

    monkeypatch.setattr(DataFrameWriter, "parquet", failing)
    res = execute_plan(catalog, build_plan(config_from_dict(d)), dryrun=False,
                       output_root=tmp_path, force=True)
    assert res.rolled_back is True
    assert [tr.table for tr in res.failed_tables] == ["public.supplier"]
    assert res.updated_by_table == {}
    assert list(tmp_path.iterdir()) == []


def test_promote_crash_rolls_forward_on_rerun(catalog, spark, tmp_path, monkeypatch):
    """The promote phase itself is crash-atomic (round-2 VERDICT gap): the
    rename list is journaled to _promote_manifest.json before the first
    rename, so a driver crash mid-loop (here: injected failure on table 2
    of 2) leaves a manifest that the NEXT apply rolls forward — the end
    state is all tables promoted, never a partial mix."""
    from database_anonymiser_spark import executor as EX

    d = base_config_dict()
    d["column_strategy"]["s_name"] = "HASH_SHA256"
    d["rules"].append(
        {"table": "public.supplier", "enabled": True, "columns": [{"name": "s_name"}]}
    )
    plan = build_plan(config_from_dict(d))

    real_promote = EX._promote
    calls = {"n": 0}

    def crashy(staging, final):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("simulated driver crash mid-promote")
        real_promote(staging, final)

    monkeypatch.setattr(EX, "_promote", crashy)
    with pytest.raises(RuntimeError, match="mid-promote"):
        execute_plan(catalog, plan, dryrun=False, output_root=tmp_path, force=True)
    # crashed state: one promoted, one staging orphan, manifest journaled
    assert (tmp_path / EX.PROMOTE_MANIFEST).exists()
    assert (tmp_path / "customer.parquet").exists()
    assert not (tmp_path / "supplier.parquet").exists()

    monkeypatch.setattr(EX, "_promote", real_promote)
    res = execute_plan(catalog, plan, dryrun=False, output_root=tmp_path, force=True)
    assert res.total_rows == 160
    assert not (tmp_path / EX.PROMOTE_MANIFEST).exists()
    assert spark.read.parquet(str(tmp_path / "customer.parquet")).count() == 150
    assert spark.read.parquet(str(tmp_path / "supplier.parquet")).count() == 10
    assert not [p for p in tmp_path.iterdir() if p.name.startswith("_staging_")]


def test_torn_promote_manifest_does_not_brick_apply(catalog, spark, tmp_path):
    """A manifest torn mid-journal-write means NO rename has happened yet
    (the journal lands before the first rename), so the next apply must
    discard it and proceed — not raise forever."""
    from database_anonymiser_spark import executor as EX

    tmp_path.mkdir(exist_ok=True)
    (tmp_path / EX.PROMOTE_MANIFEST).write_text('[{"table": "cust')  # truncated
    plan = build_plan(config_from_dict(base_config_dict()))
    res = execute_plan(catalog, plan, dryrun=False, output_root=tmp_path, force=True)
    assert res.total_rows == 150
    assert not (tmp_path / EX.PROMOTE_MANIFEST).exists()
    assert spark.read.parquet(str(tmp_path / "customer.parquet")).count() == 150


def test_apply_respects_max_records_per_file(catalog, tmp_path):
    """File-size governance (SURVEY.md §7): every output file of an apply
    write holds at most max_records_per_file records — at 100 TB this is
    what stands between the sink and a giant-file/small-file disaster."""
    import pyarrow.parquet as pq

    plan = build_plan(config_from_dict(base_config_dict()))
    res = execute_plan(
        catalog, plan, dryrun=False, output_root=tmp_path, max_records_per_file=40
    )
    assert res.total_rows == 150
    parts = sorted((tmp_path / "customer.parquet").glob("part-*.parquet"))
    assert len(parts) >= 4  # 150 rows / cap 40
    assert all(pq.ParquetFile(p).metadata.num_rows <= 40 for p in parts)
    assert sum(pq.ParquetFile(p).metadata.num_rows for p in parts) == 150


def _jobs_launched(spark, fn):
    """(fn(), number of Spark jobs fn launched), counted through a job group
    of its own; pool threads inherit the group from the calling thread."""
    import uuid

    sc = spark.sparkContext
    group = f"count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # the status tracker is fed by the asynchronous listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _copy_tables(sf_dir, dst, names):
    import shutil

    dst.mkdir()
    for n in names:
        shutil.copy(f"{sf_dir}/{n}.parquet", dst / f"{n}.parquet")
        (dst / f"{n}.parquet").chmod(0o644)
    return dst


def _rewrite(path, transform=lambda t: t):
    """Rewrite a parquet file through pyarrow, bumping its mtime so the
    file signature changes even when the bytes come out the same."""
    import os

    import pyarrow.parquet as pq

    table = transform(pq.read_table(path))
    st = os.stat(path)
    pq.write_table(table, path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))


def test_dryrun_and_apply_job_counts(spark, sf_dir, tmp_path):
    """The metadata parts of execute_plan launch no Spark job: on a warm
    catalog a dryrun launches none, an apply launches exactly one (the
    staged write) per rewritten table, and a table whose file changed pays
    exactly one schema-inference job."""
    src = _copy_tables(sf_dir, tmp_path / "src", ["customer", "supplier", "nation"])
    catalog = ParquetCatalog(spark, src)
    d = base_config_dict()
    d["column_strategy"]["s_name"] = "HASH_SHA256"
    d["rules"] += [
        {"table": "public.supplier", "enabled": True, "columns": [{"name": "s_name"}]},
        # only KEEP columns: skipped, so it is neither counted nor written
        {"table": "public.nation", "enabled": True, "columns": [{"name": "n_name"}]},
    ]
    plan = build_plan(config_from_dict(d))

    cold, n_cold = _jobs_launched(spark, lambda: execute_plan(catalog, plan, dryrun=True))
    assert n_cold == 3  # one schema inference per table, nothing else
    warm, n_warm = _jobs_launched(spark, lambda: execute_plan(catalog, plan, dryrun=True))
    assert n_warm == 0
    assert warm.updated_by_table == cold.updated_by_table == {
        "public.customer": 150, "public.supplier": 10}
    # --dryrun --emitSql reads every table twice in one process: the
    # script's schema reads hit the cache as well
    _, n_emit = _jobs_launched(spark, lambda: emit_sql_script(catalog, plan))
    assert n_emit == 0

    res, n_apply = _jobs_launched(spark, lambda: execute_plan(
        catalog, plan, dryrun=False, output_root=tmp_path / "out"))
    assert n_apply == 2 and res.updated_by_table == warm.updated_by_table
    assert res.tables[2].skipped and not (tmp_path / "out" / "nation.parquet").exists()

    _rewrite(src / "customer.parquet")
    _, n_changed = _jobs_launched(spark, lambda: execute_plan(catalog, plan, dryrun=True))
    assert n_changed == 1
    _, n_rewarm = _jobs_launched(spark, lambda: execute_plan(catalog, plan, dryrun=True))
    assert n_rewarm == 0


def test_schema_cache_follows_a_rewritten_file(spark, sf_dir, tmp_path):
    """The schema cache is keyed by the table's files: once c_acctbal is
    rewritten as a string, REDACT on it stops being downgraded."""
    import pyarrow as pa

    src = _copy_tables(sf_dir, tmp_path / "src", ["customer"])
    catalog = ParquetCatalog(spark, src)
    d = base_config_dict(column_strategy={"c_acctbal": "REDACT", "c_name": "HASH_SHA256"})
    d["rules"][0]["columns"] = [{"name": "c_acctbal"}, {"name": "c_name"}]
    plan = build_plan(config_from_dict(d))

    before = execute_plan(catalog, plan, dryrun=True).tables[0].downgrades
    assert [g["column"] for g in before] == ["c_acctbal"]

    def acctbal_as_string(t):
        i = t.schema.get_field_index("c_acctbal")
        return t.set_column(i, "c_acctbal", t.column(i).cast(pa.string()))

    _rewrite(src / "customer.parquet", acctbal_as_string)
    after = execute_plan(catalog, plan, dryrun=True)
    assert after.tables[0].downgrades == []
    assert catalog.schema_of("customer")["c_acctbal"].dataType.simpleString() == "string"
    assert after.updated_by_table == {"public.customer": 150}


def test_schema_cache_under_concurrent_reads(spark, sf_dir, tmp_path):
    """Pool threads share one catalog: with more threads than cores and a
    short switch interval, every read still sees its own table's schema and
    the cache ends with one entry per table."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    names = ["customer", "supplier", "nation"]
    src = _copy_tables(sf_dir, tmp_path / "src", names)
    catalog = ParquetCatalog(spark, src)
    want = {n: ParquetCatalog(spark, src).schema_of(n) for n in names}
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=12) as pool:
            got = list(pool.map(lambda i: (names[i % 3], catalog.schema_of(names[i % 3])),
                                range(48), timeout=300))
    finally:
        sys.setswitchinterval(interval)
    assert len(got) == 48 and all(schema == want[n] for n, schema in got)
    assert sorted(catalog._schemas) == sorted(catalog.table_path(n) for n in names)


def test_footer_stats_match_spark_count(spark, sf_dir, catalog, tmp_path):
    """footer_stats sums parquet footers; it must agree with Spark's
    count() on a multi-file directory, an empty table and a table with
    TIMESTAMP(NANOS) columns."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    plan = build_plan(config_from_dict(base_config_dict()))
    execute_plan(catalog, plan, dryrun=False, output_root=tmp_path / "out",
                 max_records_per_file=40)
    multi = ParquetCatalog(spark, tmp_path / "out")
    assert len(list((tmp_path / "out" / "customer.parquet").glob("*.parquet"))) >= 4
    assert footer_stats(multi.table_path("customer")).rows == multi.read("customer").count() == 150

    src = _copy_tables(sf_dir, tmp_path / "src", [])
    cust = pq.read_table(f"{sf_dir}/customer.parquet")
    pq.write_table(cust.slice(0, 0), src / "empty.parquet")
    events = pq.read_table(f"{sf_dir}/events.parquet")
    i = events.schema.get_field_index("ts")
    events = events.set_column(i, "ts", events.column(i).cast(pa.timestamp("ns")))
    pq.write_table(events, src / "events.parquet", version="2.6")
    assert pq.read_schema(src / "events.parquet").field("ts").type == pa.timestamp("ns")

    local = ParquetCatalog(spark, src)
    assert footer_stats(local.table_path("empty")).rows == local.read("empty").count() == 0
    for _ in range(2):  # cold (inferred schema), then warm (cached schema)
        df = local.read("events")
        assert footer_stats(local.table_path("events")).rows == df.count() == 1000
        assert df.schema["ts"].dataType.simpleString() == "timestamp_ntz"


@contextmanager
def _small_splits(spark, max_bytes="2KB", open_cost="512"):
    """Spark's file-split settings lowered so that the sf0.001 customer
    file (6.9 KB, 150 rows, one row group) plans 4 splits, as lineitem
    does at sf0.1."""
    keys = {"spark.sql.files.maxPartitionBytes": max_bytes,
            "spark.sql.files.openCostInBytes": open_cost}
    old = {k: spark.conf.get(k) for k in keys}
    for k, v in keys.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


@pytest.fixture()
def hmac_key():
    from database_anonymiser_spark import strategies as S

    S.set_hmac_key("slice-key")
    yield
    S.set_hmac_key(None)


def _slice_plan(tables=("customer", "supplier")):
    """HASH_HMAC, TRUNCATE and SET_NULL on customer; supplier (10 rows) is
    too small a share of the apply to be sliced."""
    d = base_config_dict(column_strategy={})
    d["rules"] = [
        {"table": "public.customer", "enabled": True, "columns": [
            {"name": "c_name", "strategy": "HASH_HMAC"},
            {"name": "c_mktsegment", "strategy": "TRUNCATE"},
            {"name": "c_acctbal", "strategy": "SET_NULL"},
        ]},
        {"table": "public.supplier", "enabled": True, "columns": [
            {"name": "s_name", "strategy": "HASH_SHA256"},
        ]},
    ]
    d["rules"] = [r for r in d["rules"] if r["table"].split(".")[1] in tables]
    return build_plan(config_from_dict(d))


def _staged_rows(table_dir):
    """Rows of every part file, concatenated in name order, and the row
    count of each file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    parts = [pq.read_table(p) for p in sorted(table_dir.glob("part-*.parquet"))]
    return pa.concat_tables(parts).to_pylist(), [t.num_rows for t in parts]


def _job_tasks(spark, fn):
    """(fn(), task count of each Spark job fn launched)."""
    import uuid

    sc = spark.sparkContext
    group = f"tasks-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    return out, sorted(
        sum(tracker.getStageInfo(s).numTasks for s in tracker.getJobInfo(j).stageIds)
        for j in tracker.getJobIdsForGroup(group)
    )


def test_apply_slices_a_single_row_group_table(spark, sf_dir, tmp_path, hmac_key):
    """A one-row-group table that Spark plans 4 splits for is written as 4
    row-index slices, one task each, in one job: the part files, read in
    name order, hold the unsliced apply's rows in its order (150 rows, so
    the slices are 37/38/37/38), none of them empty. The report carries
    the slice count; supplier's share is one task, so it is not split."""
    from database_anonymiser_spark.reporting import build_report

    catalog = ParquetCatalog(spark, sf_dir)
    plan = _slice_plan()
    plain = execute_plan(catalog, plan, dryrun=False, output_root=tmp_path / "plain")
    with _small_splits(spark):
        sliced, tasks = _job_tasks(spark, lambda: execute_plan(
            catalog, plan, dryrun=False, output_root=tmp_path / "sliced"))
    assert [t.slices for t in plain.tables] == [1, 1]
    assert [t.slices for t in sliced.tables] == [4, 1]
    # one job per table, 4 tasks each: customer's 4 slices, and Spark's own
    # 4 splits of supplier's file (3 of them empty, as unsliced files are)
    assert tasks == [4, 4]
    assert sliced.updated_by_table == plain.updated_by_table == {
        "public.customer": 150, "public.supplier": 10}
    want, _ = _staged_rows(tmp_path / "plain" / "customer.parquet")
    got, counts = _staged_rows(tmp_path / "sliced" / "customer.parquet")
    assert got == want and counts == [37, 38, 37, 38]
    assert sliced.tables[0].files == 4
    assert _staged_rows(tmp_path / "sliced" / "supplier.parquet")[0] == \
        _staged_rows(tmp_path / "plain" / "supplier.parquet")[0]
    report = build_report("apply", plan, sliced)["result"]["tables"]
    assert [t["slices"] for t in report] == [4, 1]


def test_dryrun_keeps_the_plain_frame(spark, sf_dir, hmac_key):
    """Slicing is the apply's: the dryrun masks the plain scan (no Union,
    no _metadata) and, warm, still launches no Spark job."""
    from database_anonymiser_spark import executor as EX

    catalog = ParquetCatalog(spark, sf_dir)
    plan = _slice_plan()
    customer = plan.tables[0]
    with _small_splits(spark):
        execute_plan(catalog, plan, dryrun=True)  # warm the schema cache
        res, n_jobs = _jobs_launched(spark, lambda: execute_plan(catalog, plan, dryrun=True))
        _, dry = EX._prepare_table(catalog, customer)
        _, wet = EX._prepare_table(catalog, customer, apply_rows=160)
    assert n_jobs == 0 and [t.slices for t in res.tables] == [1, 1]
    dry_plan = dry._jdf.queryExecution().analyzed().toString()
    assert "Union" not in dry_plan and "_metadata" not in dry_plan
    assert "Union" in wet._jdf.queryExecution().analyzed().toString()


def test_slicing_leaves_split_inputs_alone(spark, sf_dir, tmp_path, hmac_key):
    """A file with at least as many row groups as slices, and a directory
    of several files, are already split by Spark: neither is sliced."""
    import pyarrow.parquet as pq

    cust = pq.read_table(f"{sf_dir}/customer.parquet")
    groups = tmp_path / "groups"
    groups.mkdir()
    pq.write_table(cust, groups / "customer.parquet", row_group_size=30)
    files = tmp_path / "files"
    (files / "customer.parquet").mkdir(parents=True)
    pq.write_table(cust.slice(0, 75), files / "customer.parquet" / "part-0.parquet")
    pq.write_table(cust.slice(75), files / "customer.parquet" / "part-1.parquet")
    plan = _slice_plan(tables=("customer",))
    with _small_splits(spark):
        for src in (groups, files):
            res = execute_plan(ParquetCatalog(spark, src), plan, dryrun=False,
                               output_root=tmp_path / f"out-{src.name}")
            assert res.updated_by_table == {"public.customer": 150}
            assert res.tables[0].slices == 1
    assert pq.ParquetFile(groups / "customer.parquet").metadata.num_row_groups == 5


def test_sliced_write_failure_removes_every_staging(spark, sf_dir, tmp_path, monkeypatch,
                                                     hmac_key):
    """A sliced table whose staged write fails rolls the apply back: no
    table promoted, no staging left behind."""
    from pyspark.sql.readwriter import DataFrameWriter

    real = DataFrameWriter.parquet

    def failing(self, path, *a, **kw):
        real(self, path, *a, **kw)
        if "_staging_customer" in str(path):
            raise RuntimeError("simulated write failure")

    monkeypatch.setattr(DataFrameWriter, "parquet", failing)
    with _small_splits(spark):
        res = execute_plan(ParquetCatalog(spark, sf_dir), _slice_plan(tables=("customer",)),
                           dryrun=False, output_root=tmp_path)
    assert res.rolled_back is True and res.tables[0].slices == 4
    assert [tr.table for tr in res.failed_tables] == ["public.customer"]
    assert res.updated_by_table == {}
    assert list(tmp_path.iterdir()) == []


def test_missing_table_fails_in_dryrun(catalog):
    d = base_config_dict()
    d["rules"].append(
        {"table": "public.ghost", "enabled": True, "columns": [{"name": "c_name"}]}
    )
    res = execute_plan(catalog, build_plan(config_from_dict(d)), dryrun=True)
    assert [tr.table for tr in res.failed_tables] == ["public.ghost"]
    assert res.updated_by_table == {"public.customer": 150}


def test_cli_exits_nonzero_on_table_failure(sf_dir, tmp_path, monkeypatch):
    """main() must signal failure to callers/automation (ADVICE: the round-1
    CLI printed success and exited 0 even when tables errored)."""
    from database_anonymiser_spark.cli import main

    d = base_config_dict()
    d["rules"].append(
        {"table": "public.ghost", "enabled": True, "columns": [{"name": "c_name"}]}
    )
    cfg_path = tmp_path / "cfg.yaml"
    write_yaml(cfg_path, d)
    monkeypatch.chdir(tmp_path)
    rc = main(
        ["--apply", "--data", sf_dir, "--config", str(cfg_path),
         "--out", str(tmp_path / "out"), "--force"]
    )
    assert rc == 1
    assert not (tmp_path / "out" / "customer.parquet").exists()


def test_row_cap():
    enforce_row_cap(10, cap=100)
    enforce_row_cap(1000, cap=100, force=True)
    with pytest.raises(RowCapExceeded):
        enforce_row_cap(1000, cap=100)


def test_bounded_collect_is_one_capped_job(spark):
    """bounded_collect returns the rows of an input of exactly ``cap``
    rows and None at ``cap + 1``, with one Spark job either way (a
    one-partition input, so the limit needs no second scan)."""
    at_cap = spark.range(0, 50, 1, 1)
    over = spark.range(0, 51, 1, 1)
    rows, jobs = _jobs_launched(spark, lambda: bounded_collect(at_cap, 50))
    assert [r.id for r in rows] == list(range(50)) and jobs == 1
    rows, jobs = _jobs_launched(spark, lambda: bounded_collect(over, 50))
    assert rows is None and jobs == 1
    assert bounded_collect(spark.range(0), 0) == []


def test_config_gen_roundtrip(catalog, tmp_path):
    art = generate_config(catalog, sample_limit=3)
    assert not art.config.reviewed  # requires human review before apply
    tables = {r.table for r in art.config.rules}
    assert "public.customer" in tables and "public.lineitem" in tables
    # samples are masked (T7)
    cust = art.samples["public.customer"]
    assert all(v == "***" or "***" in v for v in cust["c_name"])
    # YAML roundtrip survives validation
    p = tmp_path / "cfg.yaml"
    write_yaml(p, art.config.to_dict())
    cfg2 = read_generated_config(p)
    assert len(cfg2.rules) == len(art.config.rules)


def test_mask_sample_value():
    assert mask_sample_value("short") == "***"
    assert mask_sample_value("longer than six") == "lo***ix"


def test_anonymise_events_mixed_type_groups(catalog, spark, tmp_path):
    """Events exercises the awkward type groups through the executor in one
    apply: ns-timestamp DATE (kept), props (JSON content but StringType in
    parquet → STRING group, so HASH applies — SURVEY §1.2: Spark has no JSON
    type), NUMBER value (SET_NULL), STRING event_type (REDACT)."""
    cfg = config_from_dict(
        {
            "version": 1,
            "reviewed": True,
            "scope": {"schema": "public", "denylist": []},
            "column_strategy": {},
            "rules": [
                {
                    "table": "public.events",
                    "enabled": True,
                    "columns": [
                        {"name": "event_id"},
                        {"name": "ts"},
                        {"name": "event_type", "strategy": "REDACT"},
                        {"name": "value", "strategy": "SET_NULL"},
                        {"name": "props", "strategy": "HASH_SHA256"},
                    ],
                }
            ],
        }
    )
    plan = build_plan(cfg)
    res = execute_plan(catalog, plan, dryrun=False, output_root=tmp_path, force=True)
    tr = res.tables[0]
    assert tr.error is None and tr.rows == 1000
    # props is StringType (STRING group) → HASH applies, no downgrade
    assert not tr.downgrades
    out = spark.read.parquet(str(tmp_path / "events.parquet"))
    row = out.orderBy("event_id").limit(1).collect()[0]
    assert row["event_type"] == "***"
    assert row["value"] is None
    assert len(row["props"]) == 32  # md5 hex of the JSON payload
    # timestamps survive the round trip in their repaired ntz form
    assert str(out.schema["ts"].dataType) in ("TimestampNTZType()", "TimestampType()")


def test_versioned_apply_commits_one_version_per_table(catalog, spark, tmp_path):
    """execute_plan_versioned: dryrun = zero commits; apply = one
    'anonymise' commit whose snapshot is the masked table, with version 0
    the pristine pre-image (time travel) and restore() as real rollback."""
    from database_anonymiser_spark.executor import execute_plan_versioned
    from database_anonymiser_spark.sources.versioned import VersionedTable

    plan = build_plan(config_from_dict(base_config_dict()))
    root = tmp_path / "vt"

    dry = execute_plan_versioned(catalog, plan, root, dryrun=True)
    assert dry.total_rows == 150
    assert not root.exists()  # dryrun commits (and writes) nothing

    res = execute_plan_versioned(catalog, plan, root, dryrun=False, force=True)
    assert res.total_rows == 150 and not res.rolled_back
    t = VersionedTable(spark, root / "customer")
    assert t.latest_version() == 1
    assert t.history()[1]["op"] == "anonymise"
    snap = t.snapshot()
    rows = snap.orderBy("c_custkey").limit(3).collect()
    assert all(len(r["c_name"]) == 32 for r in rows)      # md5 hex
    assert all(r["c_acctbal"] is None for r in rows)      # SET_NULL
    # pre-image retained: version 0 is the unmasked source
    pre = t.snapshot(version=0).orderBy("c_custkey").limit(1).collect()[0]
    assert len(pre["c_name"]) != 32 and pre["c_acctbal"] is not None
    # rollback is a forward restore commit
    v = t.restore(0)
    assert t.latest_version() == v
    assert t.snapshot().orderBy("c_custkey").limit(1).collect()[0]["c_acctbal"] is not None


def test_versioned_apply_is_all_or_nothing(catalog, spark, tmp_path):
    """A failing table commits NOTHING anywhere: phase-1 writes are
    invisible (no commit references them) and get vacuumed on rollback."""
    from database_anonymiser_spark.executor import execute_plan_versioned
    from database_anonymiser_spark.sources.versioned import VersionedTable

    d = base_config_dict()
    d["column_strategy"]["s_name"] = "HASH_SHA256"
    d["rules"].append(
        {"table": "public.ghost", "enabled": True, "columns": [{"name": "c_name"}]}
    )
    d["rules"].append(
        {"table": "public.supplier", "enabled": True, "columns": [{"name": "s_name"}]}
    )
    plan = build_plan(config_from_dict(d))
    root = tmp_path / "vt"
    res = execute_plan_versioned(catalog, plan, root, dryrun=False, force=True)
    assert res.rolled_back is True
    assert [tr.table for tr in res.failed_tables] == ["public.ghost"]
    # tables that were staged before the failure: version 0 (pristine) only,
    # and their phase-1 files were vacuumed away
    for name in ("customer", "supplier"):
        t = VersionedTable(spark, root / name)
        if (root / name / "_log").is_dir():
            assert t.latest_version() == 0
            assert t.history()[0]["op"] == "create"


def test_cli_versioned_apply(sf_dir, spark, tmp_path, monkeypatch):
    """--apply --versioned routes through the commit-log executor: one
    'anonymise' version per table under --out, masked snapshot, pristine
    version 0, exit 0, report written."""
    from database_anonymiser_spark.cli import main
    from database_anonymiser_spark.sources.versioned import VersionedTable

    cfg_path = tmp_path / "cfg.yaml"
    write_yaml(cfg_path, base_config_dict())
    monkeypatch.chdir(tmp_path)
    rc = main(
        ["--apply", "--versioned", "--data", sf_dir, "--config", str(cfg_path),
         "--out", str(tmp_path / "vt"), "--force"]
    )
    assert rc == 0
    t = VersionedTable(spark, tmp_path / "vt" / "customer")
    assert [h["op"] for h in t.history()] == ["create", "anonymise"]
    row = t.snapshot().orderBy("c_custkey").limit(1).collect()[0]
    assert len(row["c_name"]) == 32 and row["c_acctbal"] is None
    assert (tmp_path / "anonymiser.apply.report.json").exists()


def test_versioned_rollback_vacuums_midwrite_orphans(catalog, spark, tmp_path, monkeypatch):
    """Round-5 advice: a table that fails MID-_write_data_files (partial
    parquet written, then exception) never reaches `staged`, but its
    phase-1 orphans must still be vacuumed on rollback."""
    from database_anonymiser_spark import executor as EX
    from database_anonymiser_spark.executor import execute_plan_versioned
    from database_anonymiser_spark.sources import versioned as V

    d = base_config_dict()
    d["column_strategy"]["s_name"] = "HASH_SHA256"
    d["rules"].append(
        {"table": "public.supplier", "enabled": True, "columns": [{"name": "s_name"}]}
    )
    plan = build_plan(config_from_dict(d))
    root = tmp_path / "vt"

    real = V._write_data_files
    calls_per_root: dict = {}

    def failing(df, troot, key_col, stats_cols=()):
        n = calls_per_root.get(str(troot), 0) + 1
        calls_per_root[str(troot)] = n
        if "supplier" in str(troot) and n == 2:
            # version-0 create succeeded (n=1); fail the MASKED write
            # after real partial files land on disk
            real(df.limit(3), troot, key_col, stats_cols)
            raise RuntimeError("simulated mid-write crash")
        return real(df, troot, key_col, stats_cols)

    monkeypatch.setattr(V, "_write_data_files", failing)
    res = execute_plan_versioned(catalog, plan, root, dryrun=False, force=True)
    assert res.rolled_back is True
    assert any("supplier" in (tr.table or "") and tr.error for tr in res.tables)
    # the supplier table was touched but never staged: its mid-write
    # orphans must be gone, version 0 (pristine) intact
    t = V.VersionedTable(spark, root / "supplier")
    assert t.latest_version() == 0
    referenced = {a["path"] for rec in t.history() for a in rec["adds"]}
    on_disk = {
        str(p.relative_to(t.root)) for p in (t.root / "data").rglob("*.parquet")
    }
    assert on_disk == referenced


def test_cli_versioned_purge_history(sf_dir, spark, tmp_path, monkeypatch):
    """--apply --versioned --purgeHistory: the anonymised version is the
    ONLY recoverable state - version-0 pristine files are reclaimed and
    time travel to them fails; the masked snapshot is intact."""
    from database_anonymiser_spark.cli import main
    from database_anonymiser_spark.sources.versioned import VersionedTable

    cfg_path = tmp_path / "cfg.yaml"
    write_yaml(cfg_path, base_config_dict())
    monkeypatch.chdir(tmp_path)
    rc = main(
        ["--apply", "--versioned", "--purgeHistory", "--data", sf_dir,
         "--config", str(cfg_path), "--out", str(tmp_path / "vt"), "--force"]
    )
    assert rc == 0
    t = VersionedTable(spark, tmp_path / "vt" / "customer")
    assert [h["op"] for h in t.history()] == ["create", "anonymise"]
    row = t.snapshot().orderBy("c_custkey").limit(1).collect()[0]
    assert len(row["c_name"]) == 32  # masked state intact
    import pytest as _pytest

    with _pytest.raises(Exception):
        t.snapshot(0).collect()  # pristine pre-image reclaimed


def test_cli_audit_mode_release_gate(sf_dir, tmp_path, monkeypatch):
    """--audit (round 10): k-anonymity release gate over a table — exits
    0 with RELEASE OK when every class has >= k rows, 1 when not; the
    JSON report carries the summary; validation requires table+quasi."""
    import json as _json

    from database_anonymiser_spark.cli import main

    monkeypatch.chdir(tmp_path)
    # segment-only classes at sf0.001: 5 classes of ~30 -> k=5 passes
    rc = main(
        ["--audit", "--data", sf_dir, "--table", "customer",
         "--quasi", "c_mktsegment", "--k", "5"]
    )
    assert rc == 0
    rep = _json.loads((tmp_path / "anonymiser.audit.report.json").read_text())
    assert rep["k_anonymity"]["satisfied"] is True
    assert rep["k_anonymity"]["k_actual"] >= 5

    # (segment, nation) classes are tiny at sf0.001 -> k=10 blocks
    rc = main(
        ["--audit", "--data", sf_dir, "--table", "customer",
         "--quasi", "c_mktsegment,c_nationkey", "--k", "10"]
    )
    assert rc == 1
    rep = _json.loads((tmp_path / "anonymiser.audit.report.json").read_text())
    assert rep["k_anonymity"]["satisfied"] is False

    # l-diversity rider: nation within segment is diverse at l=2
    rc = main(
        ["--audit", "--data", sf_dir, "--table", "customer",
         "--quasi", "c_mktsegment", "--k", "5",
         "--sensitive", "c_nationkey", "--l", "2"]
    )
    assert rc == 0
    rep = _json.loads((tmp_path / "anonymiser.audit.report.json").read_text())
    assert rep["l_diversity"]["satisfied"] is True

    with pytest.raises(SystemExit):
        main(["--audit", "--data", sf_dir])  # table+quasi required


def test_cli_audit_t_closeness_and_entropy_riders(sf_dir, tmp_path, monkeypatch):
    """--t / --entropyL (round 11): the depth audits ride the same gate —
    nation-within-segment is close to the global distribution at a loose
    t and diverse enough for a small entropy-l (exit 0); a tight t
    blocks (exit 1); both need --sensitive."""
    import json as _json

    from database_anonymiser_spark.cli import main

    monkeypatch.chdir(tmp_path)
    rc = main(
        ["--audit", "--data", sf_dir, "--table", "customer",
         "--quasi", "c_mktsegment", "--k", "5",
         "--sensitive", "c_nationkey", "--t", "0.5", "--entropyL", "2"]
    )
    assert rc == 0
    rep = _json.loads((tmp_path / "anonymiser.audit.report.json").read_text())
    assert rep["t_closeness"]["satisfied"] is True
    assert rep["entropy_l_diversity"]["satisfied"] is True

    # an impossibly tight t blocks the release even though k passes
    rc = main(
        ["--audit", "--data", sf_dir, "--table", "customer",
         "--quasi", "c_mktsegment", "--k", "5",
         "--sensitive", "c_nationkey", "--t", "0.0001"]
    )
    assert rc == 1
    rep = _json.loads((tmp_path / "anonymiser.audit.report.json").read_text())
    assert rep["t_closeness"]["satisfied"] is False
    assert rep["k_anonymity"]["satisfied"] is True

    with pytest.raises(SystemExit):
        main(
            ["--audit", "--data", sf_dir, "--table", "customer",
             "--quasi", "c_mktsegment", "--t", "0.5"]
        )  # --t needs --sensitive


def test_cli_audit_enforce_out_writes_k_anonymous_output(
    sf_dir, tmp_path, monkeypatch, spark
):
    """--enforceOut (round 11): a failing k-audit suppresses the
    violating classes, writes the k-anonymous parquet, and the exit code
    grades the ENFORCED output (0 here — suppression satisfies k by
    construction)."""
    import json as _json

    from database_anonymiser_spark.cli import main
    from database_anonymiser_spark.operators.privacy import (
        k_anonymity_summary,
    )

    monkeypatch.chdir(tmp_path)
    out = tmp_path / "safe"
    rc = main(
        ["--audit", "--data", sf_dir, "--table", "customer",
         "--quasi", "c_mktsegment,c_nationkey", "--k", "10",
         "--enforceOut", str(out)]
    )
    assert rc == 0  # raw table fails k=10 but the enforced output passes
    rep = _json.loads((tmp_path / "anonymiser.audit.report.json").read_text())
    assert rep["k_anonymity"]["satisfied"] is False
    assert rep["enforced"]["k_anonymity"]["satisfied"] is True
    assert rep["enforced"]["rows_suppressed"] > 0
    got = spark.read.parquet(str(out))
    assert got.count() == rep["enforced"]["rows_kept"]
    assert k_anonymity_summary(
        got, ["c_mktsegment", "c_nationkey"], 10
    )["satisfied"]


def test_cli_audit_enforce_recomputes_riders_on_kept_frame(
    sf_dir, tmp_path, monkeypatch
):
    """Round-12 advice: with --enforceOut the riders must be recomputed
    on the KEPT frame — suppression shifts class and global
    distributions, so the pre-enforcement verdicts do not grade the
    written output. The report now carries both (base riders describe
    the input; enforced riders gate the exit code)."""
    import json as _json

    from database_anonymiser_spark.cli import main

    monkeypatch.chdir(tmp_path)
    out = tmp_path / "safe"
    rc = main(
        ["--audit", "--data", sf_dir, "--table", "customer",
         "--quasi", "c_mktsegment,c_nationkey", "--k", "10",
         "--sensitive", "c_acctbal", "--l", "2",
         "--enforceOut", str(out)]
    )
    rep = _json.loads((tmp_path / "anonymiser.audit.report.json").read_text())
    assert rep["k_anonymity"]["satisfied"] is False  # enforcement ran
    # the enforced block carries its OWN rider verdicts, computed on the
    # suppressed frame, and the exit code follows those
    assert "l_diversity" in rep["enforced"]
    enforced_ok = (
        rep["enforced"]["k_anonymity"]["satisfied"]
        and rep["enforced"]["l_diversity"]["satisfied"]
    )
    assert rc == (0 if enforced_ok else 1)
    # the base rider (pre-suppression) is still reported for the input
    assert "l_diversity" in rep


def test_cli_configgen_keyed_flag(sf_dir, tmp_path, monkeypatch):
    """--keyed (round 12): the generated default map upgrades the
    un-keyed HASH targets to HASH_HMAC; the key itself never appears in
    the YAML (it is resolved from --hmacKey / env at apply time)."""
    from database_anonymiser_spark.cli import main
    from database_anonymiser_spark.config import read_generated_config

    monkeypatch.chdir(tmp_path)
    rc = main(["--configGen", "--data", sf_dir, "--keyed",
               "--config", str(tmp_path / "cfg.yaml")])
    assert rc == 0
    cfg = read_generated_config(str(tmp_path / "cfg.yaml"))
    strat = cfg.column_strategy
    assert strat["phone"] == "HASH_HMAC"
    assert strat["mobile"] == "HASH_HMAC"
    assert strat["username"] == "HASH_HMAC"
    assert strat["email"] == "EMAIL_FAKE"  # non-HASH targets untouched
    raw = (tmp_path / "cfg.yaml").read_text()
    assert "ANONYMISER_HMAC_KEY" not in raw  # no key material in config


def test_apply_with_hmac_strategy_no_key_leak(catalog, spark, tmp_path):
    """An apply using HASH_HMAC produces stdlib-HMAC tokens and neither
    the report nor the written parquet contains the key."""
    import hashlib as _hl
    import hmac as _hm
    import json as _json

    from database_anonymiser_spark import strategies as S
    from database_anonymiser_spark.config import config_from_dict
    from database_anonymiser_spark.executor import execute_plan
    from database_anonymiser_spark.planner import build_plan
    from database_anonymiser_spark.reporting import build_report, write_json_report

    key = "apply-secret-key"
    S.set_hmac_key(key)
    try:
        cfg = config_from_dict(
            {
                "version": 1,
                "reviewed": True,
                "scope": {"schema": "public", "denylist": []},
                "column_strategy": {"c_name": "HASH_HMAC"},
                "rules": [
                    {
                        "table": "public.customer",
                        "enabled": True,
                        "columns": [
                            {"name": "c_custkey"}, {"name": "c_name"},
                        ],
                    }
                ],
            }
        )
        plan = build_plan(cfg)
        result = execute_plan(
            catalog, plan, dryrun=False, output_root=tmp_path / "out",
            force=True,
        )
        assert not result.failed_tables
        got = spark.read.parquet(str(tmp_path / "out" / "customer.parquet"))
        src = catalog.read("customer").select("c_custkey", "c_name")
        joined = {
            r["c_custkey"]: r["m"]
            for r in got.select("c_custkey", F.col("c_name").alias("m")).collect()
        }
        for r in src.limit(20).collect():
            msg = (r["c_name"] or "").encode()
            assert joined[r["c_custkey"]] == _hm.new(
                key.encode(), msg, _hl.sha256
            ).hexdigest()
        report = build_report("apply", plan, result)
        write_json_report(tmp_path / "rep.json", report)
        (entry,) = report["result"]["tables"]
        assert set(entry) == {"table", "rows", "skipped", "error", "downgrades",
                              "files", "bytes", "wall_s", "slices"}
        # files/bytes describe the staged output the rows were counted from
        parts = list((tmp_path / "out" / "customer.parquet").glob("*.parquet"))
        assert entry["rows"] == 150 and entry["files"] == len(parts)
        assert entry["bytes"] == sum(p.stat().st_size for p in parts)
        assert entry["wall_s"] > 0
        assert key not in (tmp_path / "rep.json").read_text()
        assert key not in _json.dumps(report, default=str)
    finally:
        S.set_hmac_key(None)


def test_cli_audit_t_ordered_rider(sf_dir, tmp_path, monkeypatch):
    """--tOrdered (round 11): the ordered-EMD rider gates the release on
    a numeric sensitive attribute; loose t passes, tight t blocks."""
    import json as _json

    from database_anonymiser_spark.cli import main

    monkeypatch.chdir(tmp_path)
    rc = main(
        ["--audit", "--data", sf_dir, "--table", "customer",
         "--quasi", "c_mktsegment", "--k", "5",
         "--sensitive", "c_nationkey", "--tOrdered", "0.5"]
    )
    assert rc == 0
    rep = _json.loads((tmp_path / "anonymiser.audit.report.json").read_text())
    assert rep["t_closeness_ordered"]["satisfied"] is True

    rc = main(
        ["--audit", "--data", sf_dir, "--table", "customer",
         "--quasi", "c_mktsegment", "--k", "5",
         "--sensitive", "c_nationkey", "--tOrdered", "0.0001"]
    )
    assert rc == 1

    with pytest.raises(SystemExit):
        main(
            ["--audit", "--data", sf_dir, "--table", "customer",
             "--quasi", "c_mktsegment", "--tOrdered", "0.5"]
        )


def test_cli_sql_mode_tpch_shape_and_time_travel(sf_dir, spark, tmp_path, monkeypatch):
    """--sql (round 12): the CLI registers every --data table as a temp
    view and runs one statement — a TPC-H Q1 shape end to end — and
    --versionedTable NAME=ROOT@VERSION registers a commit-log table
    through the DataSource's versionAsOf option, so time travel is a
    plain SQL read."""
    import json as _json

    from database_anonymiser_spark.cli import main
    from database_anonymiser_spark.sources.versioned import VersionedTable

    monkeypatch.chdir(tmp_path)
    # TPC-H Q1 shape over the --data views
    rc = main(
        ["--sql",
         "SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty, "
         "COUNT(*) AS n FROM lineitem WHERE l_shipdate <= DATE '1998-09-02' "
         "GROUP BY l_returnflag, l_linestatus ORDER BY 1, 2",
         "--data", sf_dir, "--out", str(tmp_path / "q1")]
    )
    assert rc == 0
    got = spark.read.parquet(str(tmp_path / "q1"))
    assert got.count() >= 3
    assert set(got.columns) == {"l_returnflag", "l_linestatus", "sum_qty", "n"}
    rep = _json.loads((tmp_path / "anonymiser.sql.report.json").read_text())
    assert rep["mode"] == "sql" and rep["rows"] == got.count()

    # versioned view + time travel: v0 has 3 rows, head has 4
    t = VersionedTable.create(
        spark, str(tmp_path / "vt"),
        spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k long, s string"),
        key_col="k",
    )
    t.append(spark.createDataFrame([(4, "d")], "k long, s string"))
    rc = main(
        ["--sql", "SELECT COUNT(*) AS n_head, "
         "(SELECT COUNT(*) FROM events_v0) AS n_v0 FROM events_head",
         "--data", sf_dir,
         "--versionedTable", f"events_head={tmp_path / 'vt'}",
         "--versionedTable", f"events_v0={tmp_path / 'vt'}@0",
         "--report", str(tmp_path / "tt.json")]
    )
    assert rc == 0
    rep = _json.loads((tmp_path / "tt.json").read_text())
    assert rep["rows"] == 1
    rc = main(
        ["--sql", "SELECT k, s FROM events_v0 ORDER BY k",
         "--data", sf_dir,
         "--versionedTable", f"events_v0={tmp_path / 'vt'}@0",
         "--out", str(tmp_path / "v0_out")]
    )
    assert rc == 0
    v0 = spark.read.parquet(str(tmp_path / "v0_out"))
    assert v0.count() == 3  # the pre-append image

    # exactly-one-mode contract extends to SQL mode
    with pytest.raises(SystemExit):
        main(["--sql", "SELECT 1", "--dryrun", "--data", sf_dir])
    with pytest.raises(SystemExit):
        main(["--versionedTable", "x=y", "--dryrun", "--data", sf_dir])


def test_cli_sql_changes_table_registers_cdf_view(sf_dir, spark, tmp_path, monkeypatch):
    """--changesTable (round 12): the CLI registers a commit-log table's
    change feed as a SQL view (Delta CDF layout) with an optional @SINCE
    startingVersion pin."""
    import json as _json

    from database_anonymiser_spark.cli import main
    from database_anonymiser_spark.sources.versioned import VersionedTable

    monkeypatch.chdir(tmp_path)
    t = VersionedTable.create(
        spark, str(tmp_path / "vt"),
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, s string"),
        key_col="k",
    )
    t.merge(spark.createDataFrame([(2, "B2"), (3, "c")], "k long, s string"))
    rc = main(
        ["--sql",
         "SELECT _change_type, k, s FROM ch WHERE _commit_version = 1 "
         "ORDER BY _change_type, k",
         "--data", sf_dir,
         "--changesTable", f"ch={tmp_path / 'vt'}",
         "--out", str(tmp_path / "ch_out")]
    )
    assert rc == 0
    rows = {
        (r._change_type, r.k, r.s)
        for r in spark.read.parquet(str(tmp_path / "ch_out")).collect()
    }
    assert rows == {
        ("insert", 3, "c"),
        ("update_preimage", 2, "b"),
        ("update_postimage", 2, "B2"),
    }
    # @SINCE pin: starting past the merge yields nothing
    rc = main(
        ["--sql", "SELECT count(*) AS n FROM ch2",
         "--data", sf_dir,
         "--changesTable", f"ch2={tmp_path / 'vt'}@2",
         "--report", str(tmp_path / "ch2.json")]
    )
    assert rc == 0
    assert _json.loads((tmp_path / "ch2.json").read_text())["rows"] == 1


def test_cli_audit_dp_release(sf_dir, spark, tmp_path, monkeypatch):
    """--dpOut (round 12): the audit mode writes an ε-DP histogram of the
    quasi groups; the release is reproducible under its recorded seed
    and differs under another."""
    import json as _json

    from database_anonymiser_spark.cli import main

    monkeypatch.chdir(tmp_path)
    rc = main(
        ["--audit", "--data", sf_dir, "--table", "customer",
         "--quasi", "c_mktsegment", "--k", "5",
         "--dpOut", str(tmp_path / "rel1"), "--epsilon", "2.0",
         "--dpSeed", "42"]
    )
    assert rc == 0
    rep = _json.loads((tmp_path / "anonymiser.audit.report.json").read_text())
    assert rep["dp_release"]["epsilon"] == 2.0
    assert rep["dp_release"]["seed"] == 42
    rel1 = {
        r.c_mktsegment: r.noisy_n
        for r in spark.read.parquet(str(tmp_path / "rel1")).collect()
    }
    assert rep["dp_release"]["n_groups"] == len(rel1)

    # same seed → bit-identical release; different seed → different noise
    main(
        ["--audit", "--data", sf_dir, "--table", "customer",
         "--quasi", "c_mktsegment", "--k", "5",
         "--dpOut", str(tmp_path / "rel2"), "--epsilon", "2.0",
         "--dpSeed", "42"]
    )
    rel2 = {
        r.c_mktsegment: r.noisy_n
        for r in spark.read.parquet(str(tmp_path / "rel2")).collect()
    }
    assert rel1 == rel2
    main(
        ["--audit", "--data", sf_dir, "--table", "customer",
         "--quasi", "c_mktsegment", "--k", "5",
         "--dpOut", str(tmp_path / "rel3"), "--epsilon", "2.0",
         "--dpSeed", "43"]
    )
    rel3 = {
        r.c_mktsegment: r.noisy_n
        for r in spark.read.parquet(str(tmp_path / "rel3")).collect()
    }
    assert rel1 != rel3

    with pytest.raises(SystemExit):
        main(["--dpOut", "x", "--dryrun", "--data", sf_dir])
