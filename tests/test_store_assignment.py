"""One store-assignment rule for every versioned write.

Each write path conforms a written value's type to the table's logged
schema by Spark's ANSI store assignment (``versioned._store_casts``): an
admitted pair is cast, and any other pair refuses the statement with
nothing committed. Every case below runs on a two-row ``k int, v string``
table and either commits a version that reads back with the logged types
or refuses with ``latest_version()`` unchanged.
"""
from __future__ import annotations

import pytest
from pyspark.sql import types as st

from database_anonymiser_spark.sources.spark_datasource import VersionedDataSource
from database_anonymiser_spark.sources.versioned import VersionedTable, _store_casts
from database_anonymiser_spark.sql_dml import execute_dml


def _merge(frame):
    return lambda spark, t: t.merge(frame(spark))


def _sql(text, dryrun=False):
    return lambda spark, t: execute_dml(
        spark, text, {"s": {"root": str(t.root), "pinned": False}}, dryrun=dryrun
    )


def _ds_write(frame):
    def run(spark, t):
        spark.dataSource.register(VersionedDataSource)
        frame(spark).write.format("versioned").option("path", str(t.root)).mode(
            "append"
        ).save()
    return run


def _inferred(*rows):
    """A frame of Python ints, which ``createDataFrame`` types bigint."""
    return lambda spark: spark.createDataFrame(list(rows), ["k", "v"])


def _string_k(spark):
    """A frame with a string key, which store assignment refuses into int."""
    return spark.createDataFrame([("x", "y")], "k string, v string")


#: case → (the write, and the rows after it or, when it must refuse, the
#: refusal's message)
CASES = {
    "api_merge_bigint": (_merge(_inferred((1, "x"))), {(1, "x"), (2, "b")}),
    "api_merge_string": (_merge(_string_k), "store assignment"),
    "sql_merge_double": (
        _sql("MERGE INTO s USING (SELECT 1.0D AS k, 'x' AS v) src ON s.k = src.k "
             "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"),
        {(1, "x"), (2, "b")},
    ),
    "sql_merge_bigint": (
        _sql("MERGE INTO s USING (SELECT CAST(3 AS BIGINT) AS k, 'z' AS v) src "
             "ON s.k = src.k WHEN MATCHED THEN UPDATE SET * "
             "WHEN NOT MATCHED THEN INSERT *"),
        {(1, "a"), (2, "b"), (3, "z")},
    ),
    "sql_merge_string": (
        _sql("MERGE INTO s USING (SELECT 'x' AS k, 'y' AS v) src ON s.k = src.k "
             "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"),
        "store assignment",
    ),
    # the merge matches on the stored key: 1.5 stored into int would
    # delete the row 1, which ON s.k = src.k does not match
    "sql_merge_fraction_key": (
        _sql("MERGE INTO s USING (SELECT 1.5D AS k) src ON s.k = src.k "
             "WHEN MATCHED THEN DELETE"),
        "store assignment",
    ),
    "sql_merge_fraction_key_dryrun": (
        _sql("MERGE INTO s USING (SELECT 1.5D AS k) src ON s.k = src.k "
             "WHEN MATCHED THEN DELETE", dryrun=True),
        "store assignment",
    ),
    # a merge whose keys touch no file and that inserts nothing still
    # judges its set expressions
    "api_merge_no_match": (
        lambda spark, t: t.merge(
            _inferred((99, "x"))(spark),
            matched=[("update", None, {"v": "array(1)"})], not_matched=[],
        ),
        "store assignment",
    ),
    "api_update_fraction": (
        lambda spark, t: t.update_where({"k": "k + 0.5"}, "k = 1"),
        {(1, "a"), (2, "b")},
    ),
    "api_update_string": (
        lambda spark, t: t.update_where({"k": "'x'"}, "k = 1"),
        "store assignment",
    ),
    # an UPDATE that matches no row refuses a type all the same
    "api_update_no_match": (
        lambda spark, t: t.update_where({"k": "'x'"}, "k = 99"),
        "store assignment",
    ),
    # a CASE over ('7', k) would coerce to a number and pass: the rule
    # judges the assignment itself
    "api_update_digits": (
        lambda spark, t: t.update_where({"k": "'7'"}, "k = 1"),
        "store assignment",
    ),
    "sql_update_fraction": (
        _sql("UPDATE s SET k = k + 0.5 WHERE k = 2"), {(1, "a"), (2, "b")},
    ),
    "sql_update_string": (
        _sql("UPDATE s SET k = 'x' WHERE k = 1"), "store assignment",
    ),
    "sql_update_string_dryrun": (
        _sql("UPDATE s SET k = 'x' WHERE k = 1", dryrun=True), "store assignment",
    ),
    "sql_insert_fraction": (
        _sql("INSERT INTO s VALUES (3.5, 'z')"), {(1, "a"), (2, "b"), (3, "z")},
    ),
    "sql_insert_string": (
        _sql("INSERT INTO s VALUES ('x', 'z')"), "store assignment",
    ),
    "sql_insert_string_dryrun": (
        _sql("INSERT INTO s VALUES ('x', 'z')", dryrun=True), "store assignment",
    ),
    "append_bigint": (
        lambda spark, t: t.append(_inferred((3, "z"))(spark)),
        {(1, "a"), (2, "b"), (3, "z")},
    ),
    "append_string": (lambda spark, t: t.append(_string_k(spark)), "store assignment"),
    # the data-source writer writes Arrow batches as given: what the rule
    # would cast is refused too, with a pointer to append
    "datasource_bigint": (_ds_write(_inferred((3, "z"))), "VersionedTable.append"),
    "datasource_string": (_ds_write(_string_k), "store assignment"),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_every_write_path_conforms_or_refuses(spark, tmp_path, case):
    write, want = CASES[case]
    t = VersionedTable.create(
        spark, str(tmp_path / "s"),
        spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"),
        key_col="k",
    )
    v0 = t.latest_version()
    if isinstance(want, str):
        with pytest.raises(Exception, match=want):
            write(spark, t)
        assert t.latest_version() == v0
    else:
        write(spark, t)
        assert t.latest_version() == v0 + 1
        snap = t.snapshot()
        assert dict(snap.dtypes) == {"k": "int", "v": "string"}
        assert {tuple(r) for r in snap.collect()} == want


@pytest.mark.parametrize("target, source", [
    # 10:00 stored as a date is midnight, which the ON condition does not match
    ("SELECT DATE'2024-01-01' AS k, 'a' AS v",
     "SELECT TIMESTAMP'2024-01-01 10:00:00' AS k, 'x' AS v"),
    # '01' = 1 compares by value; 1 stored as a string is '1', by text
    ("SELECT '01' AS k, 'a' AS v", "SELECT 1 AS k, 'x' AS v"),
])
def test_merge_refuses_a_key_cast_the_on_condition_does_not_follow(
    spark, tmp_path, target, source
):
    t = VersionedTable.create(
        spark, str(tmp_path / "s"), spark.sql(target), key_col="k"
    )
    v0 = t.latest_version()
    with pytest.raises(Exception, match="store assignment"):
        _sql(f"MERGE INTO s USING ({source}) src ON s.k = src.k "
             "WHEN MATCHED THEN DELETE")(spark, t)
    assert t.latest_version() == v0
    assert [tuple(r) for r in t.snapshot().collect()] == [
        tuple(spark.sql(target).first())
    ]


def test_datasource_write_refuses_the_old_type_after_widen_column(spark, tmp_path):
    """The data-source writer writes Arrow batches as given, so a frame of
    a column's type before ``widen_column`` is refused; ``append`` casts it."""
    t = VersionedTable.create(
        spark, str(tmp_path / "s"),
        spark.createDataFrame([(1, "a")], "k int, v string"), key_col="k",
    )
    t.widen_column("k", "bigint")
    v0 = t.latest_version()
    old = spark.createDataFrame([(2, "b")], "k int, v string")
    with pytest.raises(Exception, match="VersionedTable.append"):
        _ds_write(lambda _spark: old)(spark, t)
    assert t.latest_version() == v0
    t.append(old)
    assert dict(t.snapshot().dtypes) == {"k": "bigint", "v": "string"}
    assert {tuple(r) for r in t.snapshot().collect()} == {(1, "a"), (2, "b")}


def test_same_typed_frame_comes_back_unchanged(spark):
    from database_anonymiser_spark.sources.versioned import _conform

    df = spark.createDataFrame([(1, "a")], "k int, v string")
    assert _conform(df, df.schema) is df
    nested = st.StructType([st.StructField("a", st.ArrayType(st.IntegerType(), False))])
    loose = st.StructType([st.StructField("a", st.ArrayType(st.IntegerType(), True))])
    assert _store_casts(nested, loose) == {}  # nullability is not a type


def test_rule_matches_spark_ansi_store_assignment(spark):
    """The pure-Python rule (it also runs in data-source planner workers,
    where no JVM is reachable) agrees with Spark's own
    ``Cast.canANSIStoreAssign`` on every pair of these types."""
    jvm = spark._jvm
    cast = jvm.org.apache.spark.sql.catalyst.expressions.Cast
    parse = jvm.org.apache.spark.sql.types.DataType.fromJson
    atoms = [
        st.NullType(), st.BooleanType(), st.ByteType(), st.IntegerType(),
        st.LongType(), st.FloatType(), st.DoubleType(), st.DecimalType(10, 2),
        st.StringType(), st.BinaryType(), st.DateType(), st.TimestampType(),
        st.TimestampNTZType(), st.DayTimeIntervalType(), st.CalendarIntervalType(),
    ]
    nested = [
        st.ArrayType(st.IntegerType()), st.ArrayType(st.StringType()),
        st.MapType(st.StringType(), st.LongType()),
        st.StructType([st.StructField("a", st.IntegerType())]),
        st.StructType([st.StructField("b", st.BooleanType())]),
    ]
    for a in atoms + nested:
        for b in atoms[1:] + nested:
            want = cast.canANSIStoreAssign(parse(a.json()), parse(b.json()))
            src = st.StructType([st.StructField("c", a)])
            dst = st.StructType([st.StructField("c", b)])
            try:
                _store_casts(src, dst)
                got = True
            except ValueError:
                got = False
            assert got == want, (a.simpleString(), b.simpleString())
