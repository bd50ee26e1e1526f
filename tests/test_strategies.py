import hashlib

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from database_anonymiser_spark import strategies as S
from database_anonymiser_spark.types import TypeGroup


@pytest.fixture(scope="module")
def df(spark):
    return spark.createDataFrame(
        [Row(s="hello world", n=42, b=True, empty=None)],
        schema=T.StructType([
            T.StructField("s", T.StringType(), True),
            T.StructField("n", T.IntegerType(), True),
            T.StructField("b", T.BooleanType(), True),
            T.StructField("empty", T.StringType(), True),
        ]),
    )


def one(df, col):
    return df.select(col.alias("v")).first()["v"]


def test_redact(spark, df):
    assert one(df, S.strategy_column("REDACT", "s")) == "***"


def test_hash_is_md5_and_null_coalesces(spark, df):
    assert one(df, S.strategy_column("HASH_SHA256", "s")) == hashlib.md5(b"hello world").hexdigest()
    assert one(df, S.strategy_column("HASH_SHA256", "empty")) == hashlib.md5(b"").hexdigest()


def test_real_sha256(spark, df):
    assert one(df, S.strategy_column("HASH_SHA256_REAL", "s")) == hashlib.sha256(b"hello world").hexdigest()


def test_truncate_default4_and_null(spark, df):
    assert one(df, S.strategy_column("TRUNCATE", "s")) == "hell"
    assert one(df, S.strategy_column("TRUNCATE", "s", {"n": 2})) == "he"
    assert one(df, S.strategy_column("TRUNCATE", "empty")) == ""


def test_email_fake(spark, df):
    assert one(df, S.strategy_column("EMAIL_FAKE", "s")) == hashlib.md5(b"hello world").hexdigest() + "@example.com"


def test_set_null_preserves_type(spark, df):
    out = df.select(S.strategy_column("SET_NULL", "n").alias("n"))
    assert out.schema["n"].dataType == T.IntegerType()
    assert out.first()["n"] is None


def test_sample_preview(spark):
    rows = [Row(s="short"), Row(s="exact6"), Row(s="longer than six")]
    df = spark.range(1).sparkSession.createDataFrame(rows)
    out = [r["v"] for r in df.select(S.mask_sample_preview(F.col("s")).alias("v")).collect()]
    assert out == ["***", "***", "lo***ix"]


def test_unknown_strategy_is_noop(spark, df):
    assert one(df, S.strategy_column("WAT", "s")) == "hello world"


@pytest.mark.parametrize(
    "strategy,group,expected",
    [
        ("KEEP", TypeGroup.NUMBER, "KEEP"),
        ("SET_NULL", TypeGroup.DATE, "SET_NULL"),
        ("REDACT", TypeGroup.STRING, "REDACT"),
        ("REDACT", TypeGroup.NUMBER, "KEEP"),
        ("TRUNCATE", TypeGroup.JSON, "KEEP"),
        ("EMAIL_FAKE", TypeGroup.BOOLEAN, "KEEP"),
        ("HASH_SHA256", TypeGroup.STRING, "HASH_SHA256"),
        ("HASH_SHA256", TypeGroup.OTHER, "HASH_SHA256"),
        ("HASH_SHA256", TypeGroup.NUMBER, "KEEP"),
        ("HASH_SHA256", TypeGroup.UUID, "KEEP"),
    ],
)
def test_downgrade_matrix(strategy, group, expected):
    eff, reason = S.normalize_strategy_for_group(strategy, group)
    assert eff == expected
    assert (reason is None) == (eff == strategy)


def test_masked_projection_counts_active_and_passthrough(spark, df):
    normalized = S.normalize_columns_for_types(
        [{"column": "s", "strategy": "REDACT"}, {"column": "n", "strategy": "KEEP"}],
        df.schema,
    )
    masked, active = S.masked_projection(df, normalized)
    assert active == 1
    row = masked.first()
    assert row["s"] == "***" and row["n"] == 42 and row["b"] is True


def test_unknown_strategy_is_inactive_passthrough(spark, df):
    """An unknown strategy (reachable via hand-built plan objects that
    bypass config validation) must pass the column through AND not count as
    an active rewrite — the reference emits no SET clause for it, so a
    table whose only strategies are unknown is skipped entirely
    (query-builder.ts:48-56)."""
    normalized = [S.NormalizedColumn(column="s", strategy="FROBNICATE")]
    masked, active = S.masked_projection(df, normalized)
    assert active == 0
    assert masked.first()["s"] == "hello world"


def test_set_null_on_non_nullable_fails(spark):
    schema = T.StructType([T.StructField("k", T.LongType(), False)])
    df = spark.createDataFrame([(1,)], schema)
    normalized = S.normalize_columns_for_types([{"column": "k", "strategy": "SET_NULL"}], schema)
    with pytest.raises(ValueError, match="non-nullable"):
        S.masked_projection(df, normalized)


def test_masking_idempotent(spark, df):
    # property: mask(mask(x)) == mask(x) for REDACT / EMAIL_FAKE domain outputs
    redacted = one(df, S.strategy_column("REDACT", "s"))
    assert one(df.select(F.lit(redacted).alias("s")), S.strategy_column("REDACT", "s")) == redacted


# ---------------------------------------------------------------------------
# The masking compiler: one selectExpr of strategy_sql text per table
# ---------------------------------------------------------------------------

#: every strategy family; SET_NULL runs on the nullable columns only
FAMILIES = (
    "KEEP", "SET_NULL", "REDACT", "HASH_SHA256", "HASH_SHA256_REAL",
    "HASH_HMAC", "HASH_KEYED", "TRUNCATE", "EMAIL_FAKE",
)
#: output nullability of each string-valued family's column
FAMILY_NULLABLE = {
    "REDACT": False, "HASH_SHA256": False, "TRUNCATE": False, "EMAIL_FAKE": False,
    "HASH_SHA256_REAL": True, "HASH_HMAC": True, "HASH_KEYED": True,
}


def _family_expected(family: str, text: str, key: bytes) -> str:
    """What ``family`` makes of a value whose ``CAST(... AS STRING)`` is
    ``text`` ('' for NULL), by stdlib hashlib/hmac."""
    import hmac as pyhmac

    md5 = hashlib.md5(text.encode()).hexdigest()
    if family == "REDACT":
        return "***"
    if family == "HASH_SHA256":
        return md5
    if family == "HASH_SHA256_REAL":
        return hashlib.sha256(text.encode()).hexdigest()
    if family == "HASH_HMAC":
        return pyhmac.new(key, text.encode(), hashlib.sha256).hexdigest()
    if family == "HASH_KEYED":
        ipad, opad = S._hmac_pads(key)
        inner = hashlib.sha256((ipad.hex() + text).encode()).hexdigest()
        return hashlib.sha256((opad.hex() + inner).encode()).hexdigest()
    if family == "TRUNCATE":
        return text[:S.DEFAULT_TRUNCATE_LENGTH]
    assert family == "EMAIL_FAKE"
    return md5 + "@example.com"


def _check_every_family(df, key: bytes) -> None:
    """masked_projection of every family over every column of ``df``:
    values, typed NULLs and the output schema of the Column compiler it
    replaced (names, types, nullability)."""
    fields = df.schema.fields
    rows = df.collect()
    texts = df.selectExpr(
        *[f"CAST({S.quote_ident(f.name)} AS STRING)" for f in fields]
    ).collect()
    for family in FAMILIES:
        masked_fields = [f for f in fields if family != "SET_NULL" or f.nullable]
        masked, active = S.masked_projection(
            df, [S.NormalizedColumn(f.name, family) for f in masked_fields]
        )
        assert active == (0 if family == "KEEP" else len(masked_fields))
        assert masked.columns == df.columns
        got = masked.collect()
        for i, f in enumerate(fields):
            out = masked.schema[f.name]
            rewritten = f in masked_fields and family not in ("KEEP", "SET_NULL")
            if rewritten:
                assert out.dataType == T.StringType(), (family, f.name)
                assert out.nullable == FAMILY_NULLABLE[family], (family, f.name)
            else:
                assert out.dataType == f.dataType, (family, f.name)
                assert out.nullable == f.nullable, (family, f.name)
            for row, text, g in zip(rows, texts, got):
                if not rewritten and (family == "KEEP" or not f.nullable):
                    assert g[i] == row[i], (family, f.name)
                elif family == "SET_NULL":
                    assert g[i] is None, f.name
                else:
                    want = _family_expected(family, text[i] or "", key)
                    assert g[i] == want, (family, f.name, text[i])
    for f in fields:
        if not f.nullable:
            with pytest.raises(ValueError, match="non-nullable"):
                S.masked_projection(df, [S.NormalizedColumn(f.name, "SET_NULL")])


def test_masked_projection_covers_every_type(spark, tmp_path, monkeypatch):
    """Every strategy family over a column of each type the engine reads,
    nullable and not: values by stdlib hashlib/hmac, SET_NULL as a NULL of
    the field's exact type (non-null array elements, a NOT NULL struct
    field), and the Column compiler's output schema."""
    import datetime as dt
    from decimal import Decimal

    import pyarrow as pa
    import pyarrow.parquet as pq

    from database_anonymiser_spark.catalog import read_parquet_table

    key = b"type-coverage-key"
    monkeypatch.delenv(S.HMAC_KEY_ENV, raising=False)
    S.set_hmac_key(key)
    Fld = T.StructField
    schema = T.StructType([
        Fld("s", T.StringType(), True), Fld("s_nn", T.StringType(), False),
        Fld("i", T.IntegerType(), True), Fld("l", T.LongType(), False),
        Fld("dec", T.DecimalType(12, 2), True), Fld("dbl", T.DoubleType(), True),
        Fld("bo", T.BooleanType(), True), Fld("d", T.DateType(), True),
        Fld("ts", T.TimestampType(), True), Fld("ntz", T.TimestampNTZType(), True),
        Fld("bin", T.BinaryType(), True),
        Fld("arr", T.ArrayType(T.IntegerType(), False), True),
        Fld("mp", T.MapType(T.StringType(), T.IntegerType(), True), True),
        Fld("st", T.StructType([
            Fld("x", T.IntegerType(), False), Fld("y z", T.StringType(), True),
        ]), False),
    ])
    when = dt.datetime(2024, 2, 29, 13, 5, 7, 123456)
    df = spark.createDataFrame([
        ("héllo wörld", "x", 42, 2**40, Decimal("-1234.50"), 2.5, True,
         dt.date(2024, 2, 29), when, when, b"\x00ab", [1, 2], {"k": 1},
         (7, "y")),
        (None, "", None, -1, None, None, None, None, None, None, None, None,
         None, (8, None)),
    ], schema)
    # a TIMESTAMP(NANOS) column, which the reader repairs to timestamp_ntz
    path = tmp_path / "nanos.parquet"
    pq.write_table(pa.table({
        "t_ns": pa.array([1_700_000_000_123_456_789, None], pa.timestamp("ns")),
        "n": pa.array([1, 2], pa.int64()),
    }), path)
    nanos = read_parquet_table(spark, str(path))
    assert nanos.schema["t_ns"].dataType == T.TimestampNTZType()
    try:
        _check_every_family(df, key)
        _check_every_family(nanos, key)
    finally:
        S.set_hmac_key(None)


def test_masked_projection_is_one_select_expr_per_table(spark, sf_dir, monkeypatch):
    """The compile is one JVM round trip per table: ``masked_projection``
    calls ``DataFrame.selectExpr`` once and builds no Column."""
    from pyspark.sql.classic.column import Column as ClassicColumn

    from database_anonymiser_spark.catalog import ParquetCatalog
    from database_anonymiser_spark.executor import mask_table
    from database_anonymiser_spark.planner import PlannedColumn, PlannedTable

    catalog = ParquetCatalog(spark, sf_dir)
    tables = [
        PlannedTable(table=f"public.{name}", schema="public", name=name, columns=cols)
        for name, cols in (
            ("customer", (PlannedColumn("c_name", "HASH_HMAC"),
                          PlannedColumn("c_mktsegment", "TRUNCATE"),
                          PlannedColumn("c_nationkey", "SET_NULL"))),
            ("orders", (PlannedColumn("o_orderstatus", "REDACT"),
                        PlannedColumn("o_orderpriority", "EMAIL_FAKE"),
                        PlannedColumn("o_totalprice", "HASH_SHA256"))),  # downgraded
        )
    ]
    frames = [catalog.read(t.name) for t in tables]  # warm the schema cache
    calls = {"selectExpr": 0, "Column": 0}
    frame_cls = type(frames[0])
    select_expr, column_init = frame_cls.selectExpr, ClassicColumn.__init__

    def counted_select_expr(self, *exprs):
        calls["selectExpr"] += 1
        return select_expr(self, *exprs)

    def counted_column_init(self, *args, **kwargs):
        calls["Column"] += 1
        column_init(self, *args, **kwargs)

    monkeypatch.setattr(frame_cls, "selectExpr", counted_select_expr)
    monkeypatch.setattr(ClassicColumn, "__init__", counted_column_init)
    S.set_hmac_key("compile-cost-key")
    try:
        for t in tables:
            masked, active, _ = mask_table(catalog, t)
            assert active == (3 if t.name == "customer" else 2)
    finally:
        S.set_hmac_key(None)
    assert calls == {"selectExpr": len(tables), "Column": 0}


def test_mask_table_schemas_of_the_benchmark_tables(spark, tmp_path):
    """``mask_table``'s output schema for the five benchmark tables under
    the benchmark's config, as the Column compiler produced it (name, type,
    nullable); the benchmark's tiny inputs have the same schemas."""
    from database_anonymiser_spark.catalog import ParquetCatalog
    from database_anonymiser_spark.config import config_from_dict
    from database_anonymiser_spark.executor import mask_table
    from database_anonymiser_spark.planner import build_plan
    from perfbench import anonymise, gen

    expected = {
        "customer": ["c_custkey:bigint:1", "c_name:string:1", "c_nationkey:int:1",
                     "c_acctbal:double:1", "c_mktsegment:string:1"],
        "orders": ["o_orderkey:bigint:1", "o_custkey:bigint:1", "o_orderstatus:string:1",
                   "o_totalprice:double:1", "o_orderdate:timestamp_ntz:1",
                   "o_orderpriority:string:0"],
        "lineitem": ["l_orderkey:bigint:1", "l_partkey:bigint:1", "l_suppkey:bigint:1",
                     "l_linenumber:int:1", "l_quantity:double:1",
                     "l_extendedprice:double:1", "l_discount:double:1", "l_tax:double:1",
                     "l_returnflag:string:0", "l_linestatus:string:0",
                     "l_shipdate:timestamp_ntz:1"],
        "documents": ["doc_id:bigint:1", "text:string:0", "lang:string:1",
                      "source:string:0", "n_chars:bigint:1"],
        "events": ["event_id:bigint:1", "ts:timestamp_ntz:1", "user_id:bigint:1",
                   "event_type:string:0", "value:double:1", "props:string:1"],
    }
    catalog = ParquetCatalog(spark, gen.ensure_inputs(tmp_path, "tiny", 1))
    plan = build_plan(config_from_dict(anonymise.config()))
    S.set_hmac_key("benchmark-schema-key")
    try:
        got = {
            t.name: [
                f"{f.name}:{f.dataType.simpleString()}:{int(f.nullable)}"
                for f in mask_table(catalog, t)[0].schema.fields
            ]
            for t in plan.tables
        }
    finally:
        S.set_hmac_key(None)
    assert got == expected


def test_keyed_projection_error_keeps_pads_out_of_reports_and_logs(
    spark, sf_dir, tmp_path, monkeypatch, capfd
):
    """A keyed projection that fails analysis reports its error without
    pad material: not in ``TableResult.error``, the JSON report, or stderr
    (PySpark's query-context logger and the executor's traceback)."""
    import logging
    import sys

    from pyspark.logger import PySparkLogger

    from database_anonymiser_spark.catalog import ParquetCatalog
    from database_anonymiser_spark.executor import execute_plan
    from database_anonymiser_spark.planner import Plan, PlannedColumn, PlannedTable
    from database_anonymiser_spark.reporting import build_report, write_json_report

    strategy_sql = S.strategy_sql

    def broken(strategy, col, params=None):
        sql = strategy_sql(strategy, col, params)
        return sql if strategy != "HASH_HMAC" else f"concat({sql}, no_such_column)"

    monkeypatch.setattr(S, "strategy_sql", broken)
    key = "leak-probe-key"
    ipad, opad = S._hmac_pads(key.encode())
    plan = Plan(created_at="t0", tables=(PlannedTable(
        table="public.customer", schema="public", name="customer",
        columns=(PlannedColumn("c_name", "HASH_HMAC"),),
    ),))
    # both loggers write to stderr, as under the CLI
    handlers = [
        (logging.getLogger(), logging.StreamHandler(sys.stderr)),
        (PySparkLogger.getLogger("SQLQueryContextLogger"), logging.StreamHandler(sys.stderr)),
    ]
    for logger, handler in handlers:
        logger.addHandler(handler)
    S.set_hmac_key(key)
    try:
        result = execute_plan(ParquetCatalog(spark, sf_dir), plan, dryrun=True)
    finally:
        S.set_hmac_key(None)
        for logger, handler in handlers:
            logger.removeHandler(handler)
    (tr,) = result.failed_tables
    assert tr.error.startswith("AnalysisException: [UNRESOLVED_COLUMN")
    assert "no_such_column" in tr.error and "<redacted-literal>" in tr.error
    report = tmp_path / "report.json"
    write_json_report(report, build_report("dryrun", plan, result))
    err = capfd.readouterr().err
    assert "no_such_column" in err  # the failure was logged ...
    for text in (tr.error, report.read_text(), err):
        # ... without the pads
        assert ipad.hex() not in text and opad.hex() not in text
        assert key not in text


# ---------------------------------------------------------------------------
# Privacy-audit operators (round 10, operators/privacy.py): the question
# the reference never answers — is the masked output safe to release?
# ---------------------------------------------------------------------------


def test_k_anonymity_audit_and_suppression(spark):
    import pytest as _pt

    from database_anonymiser_spark.operators import privacy as P

    rows = (
        [(i, "z1", 30) for i in range(5)]       # class of 5
        + [(10 + i, "z1", 40) for i in range(2)]  # class of 2 (violates k=3)
        + [(20, "z2", None), (21, "z2", None)]    # NULL quasi -> its own class
        + [(30, None, 30)]                        # NULL zip class of 1
    )
    df = spark.createDataFrame(rows, "id long, zip string, age int")
    classes = {
        (r["zip"], r["age"]): (r["class_n"], r["violates"])
        for r in P.k_anonymity(df, ["zip", "age"], 3).collect()
    }
    assert classes[("z1", 30)] == (5, False)
    assert classes[("z1", 40)] == (2, True)
    assert classes[("z2", None)] == (2, True)
    assert classes[(None, 30)] == (1, True)

    s = P.k_anonymity_summary(df, ["zip", "age"], 3)
    assert s == {
        "n_classes": 4, "n_violating_classes": 3, "rows_at_risk": 5,
        "k_actual": 1, "n_rows": 10, "k_required": 3, "satisfied": False,
    }

    # suppression drops exactly the violating classes' rows (incl. the
    # NULL-quasi ones — null-safe class join), and the survivor set is
    # k-anonymous by construction
    kept = P.suppress_to_k(df, ["zip", "age"], 3)
    assert sorted(r["id"] for r in kept.collect()) == [0, 1, 2, 3, 4]
    assert P.k_anonymity_summary(kept, ["zip", "age"], 3)["satisfied"]

    with _pt.raises(ValueError, match="k must"):
        P.k_anonymity(df, ["zip"], 0)
    with _pt.raises(ValueError, match="at least one"):
        P.k_anonymity(df, [], 3)


def test_l_diversity_homogeneity_attack(spark):
    import pytest as _pt

    from database_anonymiser_spark.operators import privacy as P

    rows = (
        [(i, "z1", "flu") for i in range(4)]  # k=4 but EVERYONE has flu
        + [(10, "z2", "flu"), (11, "z2", "cold"), (12, "z2", None)]
    )
    df = spark.createDataFrame(rows, "id long, zip string, dx string")
    got = {
        r["zip"]: (r["class_n"], r["distinct_sensitive"], r["violates"])
        for r in P.l_diversity(df, ["zip"], "dx", 2).collect()
    }
    # the homogeneity attack: big class, one value -> violation
    assert got["z1"] == (4, 1, True)
    # NULL sensitive does not count toward diversity
    assert got["z2"] == (3, 2, False)
    with _pt.raises(ValueError, match="quasi-identifier"):
        P.l_diversity(df, ["dx"], "dx", 2)


def test_generalize_num_bands(spark):
    import pytest as _pt

    from database_anonymiser_spark.operators import privacy as P

    df = spark.createDataFrame(
        [(1, 1234.5), (2, -0.01), (3, None), (4, 500.0)], "id long, v double"
    )
    got = {
        r["id"]: r["band"]
        for r in df.select("id", P.generalize_num("v", 500).alias("band")).collect()
    }
    assert got == {1: 1000.0, 2: -500.0, 3: None, 4: 500.0}
    with _pt.raises(ValueError, match="width"):
        P.generalize_num("v", 0)


def test_t_closeness_catches_the_skew_attack(spark):
    """The round-11 depth audit: a class whose k rows are diverse enough
    for distinct-l but concentrate on a globally RARE sensitive value
    (the skewness attack) must pass distinct-l and FAIL t-closeness."""
    import pytest as _pt

    from database_anonymiser_spark.operators import privacy as P

    # global: flu dominates (91/104); class A is 9 hiv + 1 flu —
    # 2 distinct values (distinct-l=2 passes), distribution far from
    # the table's (t-closeness fails)
    rows = (
        [("B", "flu")] * 90 + [("B", "hiv")] * 4
        + [("A", "hiv")] * 9 + [("A", "flu")]
    )
    df = spark.createDataFrame(rows, "q string, s string")
    ld = {r.q: r.violates for r in P.l_diversity(df, ["q"], "s", 2).collect()}
    assert ld == {"A": False, "B": False}  # distinct-l is blind to skew
    tc = {
        r.q: (r.violates, r.t_num, r.class_n)
        for r in P.t_closeness(df, ["q"], "s", 0.2).collect()
    }
    assert tc["A"][0] is True and tc["B"][0] is False
    # exact-integer numerator: N=104, global flu=91/hiv=13, class A
    # (n=10): |1*104 - 91*10| + |9*104 - 13*10| = 806 + 806 = 1612
    assert tc["A"][1] == 1612 and tc["A"][2] == 10
    # distance = t_num / (2 n N) = 1612 / 2080 = 0.775
    d = {r.q: r.t_distance for r in P.t_closeness(df, ["q"], "s", 0.2).collect()}
    assert abs(d["A"] - 1612 / (2 * 10 * 104)) < 1e-12

    with _pt.raises(ValueError, match="t must"):
        P.t_closeness(df, ["q"], "s", 0.0)
    with _pt.raises(ValueError, match="quasi-identifier"):
        P.t_closeness(df, ["s"], "s", 0.2)

    # a NULL sensitive value is excluded from BOTH distributions
    df2 = spark.createDataFrame(
        rows + [("A", None)], "q string, s string"
    )
    tc2 = {r.q: r.t_num for r in P.t_closeness(df2, ["q"], "s", 0.2).collect()}
    assert tc2 == {q: t for q, (_v, t, _n) in tc.items()}


def test_entropy_and_recursive_l_diversity(spark):
    import math

    from database_anonymiser_spark.operators import privacy as P

    # class A: 9-vs-1 skew — distinct-l 2 but entropy 0.325 < ln 2;
    # class C: 2-vs-2 balanced — entropy ln 2 exactly (>= passes)
    rows = (
        [("A", "hiv")] * 9 + [("A", "flu")]
        + [("C", "flu")] * 2 + [("C", "cold")] * 2
    )
    df = spark.createDataFrame(rows, "q string, s string")
    ent = {
        r.q: (r.entropy, r.violates)
        for r in P.l_diversity_entropy(df, ["q"], "s", 2).collect()
    }
    expect_a = math.log(10) - (9 * math.log(9)) / 10
    assert abs(ent["A"][0] - expect_a) < 1e-9 and ent["A"][1] is True
    assert abs(ent["C"][0] - math.log(2)) < 1e-9 and ent["C"][1] is False

    # recursive (c, l): A's counts [9, 1] -> r1=9 >= 2*(r2..) at l=2;
    # C's [2, 2] -> 2 < 2*2 passes; a 1-value class has an empty tail
    rc = {
        r.q: (r.r1, r.tail_sum, r.violates)
        for r in P.l_diversity_recursive(df, ["q"], "s", 2.0, 2).collect()
    }
    assert rc["A"] == (9, 1, True)
    assert rc["C"] == (2, 2, False)
    one = spark.createDataFrame([("D", "flu")], "q string, s string")
    rc1 = P.l_diversity_recursive(one, ["q"], "s", 2.0, 2).first()
    assert rc1.tail_sum == 0 and rc1.violates is True


def test_generalize_cat_hierarchy_and_dp_counts(spark):
    import pytest as _pt
    from pyspark.sql import functions as F

    from database_anonymiser_spark.operators import privacy as P

    df = spark.createDataFrame(
        [(1, "BUILDING"), (2, "AUTOMOBILE"), (3, "MACHINERY"), (4, None)],
        "id long, seg string",
    )
    h = {"BUILDING": "CONSUMER", "AUTOMOBILE": "BUSINESS"}
    got = {
        r.id: r.g
        for r in df.select(
            "id", P.generalize_cat("seg", h, default="OTHER").alias("g")
        ).collect()
    }
    # mapped values climb; unmapped take the default; NULL stays NULL
    assert got == {1: "CONSUMER", 2: "BUSINESS", 3: "OTHER", 4: None}
    # None default keeps unmapped values verbatim (partial hierarchy)
    keep = {
        r.id: r.g
        for r in df.select(
            "id", P.generalize_cat("seg", h).alias("g")
        ).collect()
    }
    assert keep[3] == "MACHINERY" and keep[4] is None
    with _pt.raises(ValueError, match="hierarchy"):
        P.generalize_cat("seg", {})

    # DP counts: reproducible under a seed, different across seeds (with
    # overwhelming probability over 20 groups), never negative, and the
    # noise scale shrinks with epsilon
    big = spark.range(0, 2000).select(
        (F.col("id") % 20).alias("g")
    )
    a = sorted(map(tuple, P.dp_noisy_counts(big, ["g"], 1.0, seed=7).collect()))
    b = sorted(map(tuple, P.dp_noisy_counts(big, ["g"], 1.0, seed=7).collect()))
    assert a == b
    c = sorted(map(tuple, P.dp_noisy_counts(big, ["g"], 1.0, seed=8).collect()))
    assert a != c
    assert all(n >= 0 for _g, _t, n in a)
    # eps=1000 -> negligible noise: every group exact
    tight = P.dp_noisy_counts(big, ["g"], 1000.0, seed=7).collect()
    assert all(r.noisy_n == r.true_n for r in tight)
    with _pt.raises(ValueError, match="epsilon"):
        P.dp_noisy_counts(big, ["g"], 0.0)


def test_anonymize_to_k_datafly_loop(spark):
    """Datafly (round 11): generalize the widest quasi column step by
    step until <= max_suppress_frac rows violate, then suppress — the
    output is k-anonymous by construction and the audit trail records
    each step."""
    import pytest as _pt

    from database_anonymiser_spark.operators import privacy as P

    # ages nearly unique (the widest column -> generalized first);
    # cities in two regions
    rows = [
        (i, 20 + i, "springfield" if i % 2 == 0 else "shelbyville")
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "id long, age int, city string")
    spec = {
        "age": [10, 50],  # widths up the ladder
        "city": [{"springfield": "region1", "shelbyville": "region1"}],
    }
    out, steps = P.anonymize_to_k(df, spec, k=5, max_suppress_frac=0.0)
    assert P.k_anonymity_summary(out, ["age", "city"], 5)["satisfied"]
    assert out.count() > 0
    # age (40 distinct) generalizes before city (2 distinct)
    assert steps[0]["column"] == "age" and steps[0]["distinct_before"] == 40
    assert all(s["rows_at_risk_before"] > 0 for s in steps)

    # already-anonymous input: zero steps, zero suppression
    ok = spark.createDataFrame(
        [(i, 1, "x") for i in range(10)], "id long, age int, city string"
    )
    out2, steps2 = P.anonymize_to_k(ok, {"age": [10], "city": []}, k=5)
    assert steps2 == [] and out2.count() == 10

    # exhausted ladders fall back to suppression (still k-anonymous)
    hard = spark.createDataFrame(
        [(i, i, "x") for i in range(7)], "id long, age int, city string"
    )
    out3, _ = P.anonymize_to_k(
        hard, {"age": [2], "city": []}, k=5, max_suppress_frac=0.0
    )
    assert P.k_anonymity_summary(
        out3, ["age", "city"], 5
    )["satisfied"] or out3.count() == 0

    with _pt.raises(ValueError, match="ladder step"):
        P.anonymize_to_k(df, {"age": [-1]}, k=5)
    with _pt.raises(ValueError, match="max_suppress_frac"):
        P.anonymize_to_k(df, spec, k=5, max_suppress_frac=2.0)


def test_hmac_rfc2104_matches_stdlib(spark, df):
    """HASH_HMAC is real RFC 2104 HMAC-SHA256: pinned against Python's
    ``hmac`` stdlib (the authoritative oracle for a crypto primitive —
    DuckDB 1.0's sha256 is VARCHAR-only so the raw-byte inner digest is
    not SQL-expressible; the portable ``HASH_KEYED`` carries the
    cross-engine oracle instead)."""
    import hmac as pyhmac

    key = "rotate-me-please"
    expect = lambda m: pyhmac.new(key.encode(), m, hashlib.sha256).hexdigest()
    assert one(df, S.strategy_column("HASH_HMAC", "s", key=key)) == expect(b"hello world")
    # NULL coalesces to '' like every other strategy (query-builder.ts:34)
    assert one(df, S.strategy_column("HASH_HMAC", "empty", key=key)) == expect(b"")
    # non-string input hashes its string rendering (HASH on OTHER group)
    assert one(df, S.strategy_column("HASH_HMAC", "n", key=key)) == expect(b"42")
    # >block-size keys are pre-hashed per RFC 2104
    long_key = "k" * 100
    assert one(df, S.strategy_column("HASH_HMAC", "s", key=long_key)) == pyhmac.new(
        long_key.encode(), b"hello world", hashlib.sha256
    ).hexdigest()
    # key rotation changes every token (deterministic per key)
    assert one(df, S.strategy_column("HASH_HMAC", "s", key="other-key")) != expect(b"hello world")


def test_keyed_hash_portable_construction(spark, df):
    """HASH_KEYED = sha256(hex(opad) || sha256(hex(ipad) || msg)) — the
    engine-portable keyed variant; its SQL twin renders the identical
    string, and DuckDB executes it to the same digest."""
    key = "suite-fixture-key-v1"
    ipad, opad = S._hmac_pads(key.encode())
    manual = hashlib.sha256(
        (opad.hex() + hashlib.sha256(
            (ipad.hex() + "hello world").encode()
        ).hexdigest()).encode()
    ).hexdigest()
    assert one(df, S.strategy_column("HASH_KEYED", "s", key=key)) == manual

    import duckdb

    con = duckdb.connect()
    twin = S.keyed_hash_sql("'hello world'", key)
    got = con.sql(f"SELECT {twin}").fetchone()[0]
    assert got == manual


def test_hmac_key_resolution_and_safety(spark, df, monkeypatch):
    """Key precedence: explicit > set_hmac_key > env; no key at all is a
    loud plan-time error naming the env var; the key never appears in
    the compiled plan as plaintext."""
    monkeypatch.delenv(S.HMAC_KEY_ENV, raising=False)
    S.set_hmac_key(None)
    with pytest.raises(ValueError, match=S.HMAC_KEY_ENV):
        S.strategy_column("HASH_HMAC", "s")
    monkeypatch.setenv(S.HMAC_KEY_ENV, "env-key")
    import hmac as pyhmac

    assert one(df, S.strategy_column("HASH_HMAC", "s")) == pyhmac.new(
        b"env-key", b"hello world", hashlib.sha256
    ).hexdigest()
    S.set_hmac_key("override-key")
    try:
        assert one(df, S.strategy_column("HASH_HMAC", "s")) == pyhmac.new(
            b"override-key", b"hello world", hashlib.sha256
        ).hexdigest()
        # the plaintext key is absent from the analyzed plan (only the
        # XOR-derived pads ride as literals; explain output is still to
        # be treated as sensitive, like any keyed system's plan)
        plan = df.select(
            S.strategy_column("HASH_HMAC", "s").alias("h")
        )._jdf.queryExecution().analyzed().toString()
        assert "override-key" not in plan
    finally:
        S.set_hmac_key(None)
    # type safety: the keyed family downgrades exactly like HASH
    eff, reason = S.normalize_strategy_for_group("HASH_HMAC", TypeGroup.BOOLEAN)
    assert eff == "KEEP" and "HASH_HMAC" in reason
    eff2, _ = S.normalize_strategy_for_group("HASH_KEYED", TypeGroup.STRING)
    assert eff2 == "HASH_KEYED"


def test_dp_noise_is_partition_invariant(spark):
    """Round-12 advice: noise must be a pure function of (group, seed) —
    identical under any repartitioning/DOP, unlike F.rand(seed)."""
    from database_anonymiser_spark.operators import privacy as P

    big = spark.range(0, 2000).select((F.col("id") % 20).alias("g"))
    base = sorted(map(tuple, P.dp_noisy_counts(big, ["g"], 1.0, seed=7).collect()))
    for parts in (1, 7, 32):
        again = sorted(
            map(
                tuple,
                P.dp_noisy_counts(
                    big.repartition(parts), ["g"], 1.0, seed=7
                ).collect(),
            )
        )
        assert again == base, f"noise drifted at {parts} partitions"
    # NULL group keys get their own deterministic noise too
    withnull = big.withColumn(
        "g", F.when(F.col("g") == 0, F.lit(None)).otherwise(F.col("g"))
    )
    a = sorted(map(tuple, P.dp_noisy_counts(withnull, ["g"], 1.0, seed=7).collect()),
               key=str)
    b = sorted(map(tuple, P.dp_noisy_counts(withnull.repartition(5), ["g"], 1.0, seed=7).collect()),
               key=str)
    assert a == b


def test_dp_noisy_sums_clipping_and_sensitivity(spark):
    """dp_noisy_sums: contributions are clipped into [lo, hi] BEFORE the
    sum (the sensitivity bound), noise is seed-reproducible and
    partition-invariant, and scales with (hi-lo)/eps."""
    from database_anonymiser_spark.operators import privacy as P

    df = spark.createDataFrame(
        [("a", -50.0), ("a", 10.0), ("a", 999.0), ("b", 5.0), ("b", None)],
        "g string, v double",
    )
    out = {r.g: r for r in P.dp_noisy_sums(df, ["g"], "v", 0.0, 100.0, 1000.0, seed=3).collect()}
    # clip: -50 -> 0, 999 -> 100; NULL contributes nothing
    assert out["a"].clipped_sum == 110.0
    assert out["b"].clipped_sum == 5.0
    # eps=1000 -> noise magnitude <= (hi-lo)/eps * ln(1e6) ~ 1.4
    assert abs(out["a"].noisy_sum - 110.0) < 2.0
    # reproducible + partition-invariant
    a = sorted(map(tuple, P.dp_noisy_sums(df, ["g"], "v", 0.0, 100.0, 2.0, seed=3).collect()))
    b = sorted(map(tuple, P.dp_noisy_sums(df.repartition(4), ["g"], "v", 0.0, 100.0, 2.0, seed=3).collect()))
    assert a == b
    with pytest.raises(ValueError, match="hi must exceed lo"):
        P.dp_noisy_sums(df, ["g"], "v", 5.0, 5.0, 1.0)
    with pytest.raises(ValueError, match="epsilon"):
        P.dp_noisy_sums(df, ["g"], "v", 0.0, 1.0, -1.0)


def test_t_closeness_ordered_null_quasi_class(spark):
    """Round-12 advice: a class whose quasi value is NULL must match its
    own per-value counts through the grid join (eqNullSafe) — before the
    fix its cum_c was 0 and it was falsely flagged. Here the NULL class
    mirrors the global distribution exactly, so its distance is 0."""
    from database_anonymiser_spark.operators import privacy as P

    rows = (
        [(None, 1), (None, 2)] * 3      # NULL class: uniform over {1,2}
        + [("q1", 1), ("q1", 2)] * 3    # same shape
    )
    df = spark.createDataFrame(rows, "q string, s int")
    got = {r.q: (r.t_num, r.violates) for r in
           P.t_closeness_ordered(df, ["q"], "s", 0.1).collect()}
    assert got[None] == (0, False), got
    assert got["q1"] == (0, False), got


def test_t_closeness_ordered_reproduces_the_paper_example(spark):
    """Li et al. 2007's §3 worked example: uniform global over incomes
    3k..11k (9 values); the class of three ADJACENT low incomes has
    ordered-EMD 0.375, the scattered class {6k, 8k, 11k} only 0.167 —
    adjacency matters, which the categorical variational distance cannot
    see."""
    import pytest as _pt

    from database_anonymiser_spark.operators import privacy as P

    rows = (
        [("A", 3000), ("A", 4000), ("A", 5000)]
        + [("B", 6000), ("B", 8000), ("B", 11000)]
        + [("C", 7000), ("C", 9000), ("C", 10000)]
    )
    df = spark.createDataFrame(rows, "q string, inc int")
    got = {
        r.q: (r.t_distance, r.violates, r.t_num)
        for r in P.t_closeness_ordered(df, ["q"], "inc", 0.25).collect()
    }
    assert abs(got["A"][0] - 0.375) < 1e-12
    assert abs(got["B"][0] - 1 / 6) < 1e-12
    assert got["A"][1] is True and got["B"][1] is False
    # exact integers: n=3, N=9, m-1=8 -> D*(m-1)*n*N = t_num
    assert got["A"][2] == round(0.375 * 8 * 3 * 9)

    # the categorical distance is BLIND to adjacency: A and B read equal
    cat = {
        r.q: r.t_distance
        for r in P.t_closeness(df, ["q"], "inc", 0.25).collect()
    }
    assert abs(cat["A"] - cat["B"]) < 1e-12

    # single-value domain: every class at distance 0
    one = spark.createDataFrame([("A", 1), ("B", 1)], "q string, inc int")
    z = P.t_closeness_ordered(one, ["q"], "inc", 0.5).collect()
    assert all(r.t_distance == 0.0 and r.violates is False for r in z)

    with _pt.raises(ValueError, match="t must"):
        P.t_closeness_ordered(df, ["q"], "inc", 1.5)


def test_keyed_pad_material_absent_from_committed_artifacts():
    """Round-13 keyed-plan hygiene: the HMAC ipad/opad literals are
    key-equivalent material and ride any explain() of a keyed
    expression. The suite's fixture key is the one key whose pads could
    plausibly leak through plan-derived artifacts (plan_audit, bench
    stderr, notes) — assert they appear in NO committed artifact, in
    either rendering (hex text, as HASH_KEYED embeds; or repr'd raw
    bytes, as a binary literal prints). Also pin the redaction helper that
    keeps analyzer error messages literal-free in PLANS.md."""
    import os
    import sys

    from database_anonymiser_spark.strategies import _hmac_pads
    from database_anonymiser_spark.suite.masking import _HMAC_FIXTURE_KEY

    ipad, opad = _hmac_pads(_HMAC_FIXTURE_KEY.encode())
    needles = [ipad.hex(), opad.hex(), repr(ipad)[2:-1], repr(opad)[2:-1]]

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    artifacts = [
        "PLANS.md", "BENCH_NOTES.md", "bench_sidecar.json", "README.md",
        "COVERAGE.md", "SURVEY.md",
    ] + [f for f in os.listdir(root) if f.startswith("bench_stderr")]
    scanned = 0
    for name in artifacts:
        p = os.path.join(root, name)
        if not os.path.isfile(p):
            continue
        text = open(p, errors="replace").read()
        scanned += 1
        for needle in needles:
            assert needle not in text, f"keyed pad material in {name}"
    assert scanned >= 3  # the tripwire actually looked at something

    sys.path.insert(0, os.path.join(root, "tools"))
    try:
        from plan_audit import redact_literals
    finally:
        sys.path.pop(0)
    msg = f"cannot resolve sha2(concat(0x{ipad.hex()}, ...)) due to ..."
    red = redact_literals(msg)
    assert ipad.hex() not in red and "<redacted-literal>" in red
    # short hex (a version hash, a uuid fragment) is NOT redacted
    assert redact_literals("commit abc123 deadbeef") == "commit abc123 deadbeef"
