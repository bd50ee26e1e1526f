"""Physical-plan regression tests: the scale properties SURVEY.md §2 claims
(pushdown, pruning, broadcast, top-k heaps, partial aggregation, bucketed
co-location) must be visible in the plan, not just asserted in docstrings."""

import contextlib
import io
import re

import pytest
from pyspark.sql import functions as F

from database_anonymiser_spark.suite import all_queries


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def n_ops(plan: str, op: str) -> int:
    """Count physical operators by their numbered detail heading —
    '(5) Exchange' — so substrings ('BroadcastExchange' vs 'Exchange') and
    the tree/detail duplication don't miscount."""
    return len(re.findall(rf"^\(\d+\) {op}\s*$", plan, flags=re.M))


@pytest.fixture(scope="module")
def queries():
    return all_queries()


def test_filter_pushdown_reaches_scan(spark, sf_dir, queries):
    plan = plan_of(queries["sample_scan"].spark(spark, sf_dir))
    assert "PushedFilters: [IsNotNull(c_name)]" in plan
    # column pruning: only the 2 projected columns are read
    assert "ReadSchema: struct<c_custkey:bigint,c_name:string>" in plan
    # limit+orderBy compiles to per-partition heaps, not a global sort
    assert "TakeOrderedAndProject" in plan


def test_agg_is_partial_then_final(spark, sf_dir):
    # the canonical groupBy-agg shape (tpch_q1 minus its orderBy): map-side
    # combine before exactly one exchange
    from database_anonymiser_spark.suite.base import dsum, load

    li = load(spark, sf_dir, "lineitem")
    plan = plan_of(li.groupBy("l_returnflag").agg(dsum("l_quantity").alias("s")))
    assert "partial_sum" in plan
    assert n_ops(plan, "Exchange") == 1


def test_star_join_broadcasts_dims(spark, sf_dir, queries):
    plan = plan_of(queries["join_broadcast"].spark(spark, sf_dir))
    assert n_ops(plan, "BroadcastExchange") == 2  # nation + region
    assert n_ops(plan, "Exchange") == 1  # only the 5-group aggregate shuffles
    assert "SortMergeJoin" not in plan  # fact side never shuffles for the join


def test_topk_uses_heap_not_global_sort(spark, sf_dir, queries):
    plan = plan_of(queries["topk_orders"].spark(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan  # no global sort operator


def test_semi_join_projects_keys_only(spark, sf_dir, queries):
    plan = plan_of(queries["join_semi_anti"].spark(spark, sf_dir))
    assert "LeftSemi" in plan and "LeftAnti" in plan
    # orders side must be pruned to the join key alone
    assert "ReadSchema: struct<o_custkey:bigint>" in plan


def test_cosine_pairs_blocks_never_cartesian(spark, sf_dir, queries):
    """sim_cosine_pairs must be LSH-blocked: candidates come from the banded
    signature join, never an all-pairs product — the difference between
    O(collisions) and O(n²) at 100 TB."""
    plan = plan_of(queries["sim_cosine_pairs"].spark(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_salted_join_salt_does_not_defeat_pruning(spark, sf_dir):
    """The deterministic salt must hash only the join key + the caller's
    salt_cols — not every big-side column (round-2 VERDICT: a whole-row
    hash forces a wide fact table to read all columns just to derive a
    salt). With salt_cols=('l_quantity',), the big-side scan of the FULL
    lineitem table prunes to exactly the two columns the query needs."""
    from database_anonymiser_spark.operators.skew import targeted_salted_join
    from database_anonymiser_spark.suite.base import load

    li = load(spark, sf_dir, "lineitem")  # wide table, no pre-select
    s = load(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_name"
    )
    out = targeted_salted_join(
        li, s, on="l_suppkey", salt=8, hot_threshold=500, salt_cols=("l_quantity",)
    ).groupBy("s_name").agg(F.sum("l_quantity").alias("qty"))
    plan = plan_of(out)
    m = re.search(r"ReadSchema: struct<(l_[^>]*)>", plan)
    assert m, plan
    assert set(m.group(1).split(",")) == {"l_suppkey:bigint", "l_quantity:double"}, m.group(1)


def test_multidim_agg_single_scan_single_agg(spark, sf_dir, queries):
    """agg_multidim must compute ONE cube and derive the other grouping
    families (explode-tag), not union three aggregations = three scans."""
    plan = plan_of(queries["agg_multidim"].spark(spark, sf_dir))
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, flags=re.M)) == 1
    assert plan.count("Expand") <= 2  # one Expand node (tree + detail listing)


def test_stream_windows_single_scan(spark, sf_dir, queries):
    """stream_windows derives tumbling/sliding/finalized from one 30-minute
    pre-aggregation — exactly one parquet scan of events in the plan."""
    plan = plan_of(queries["stream_windows"].spark(spark, sf_dir))
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, flags=re.M)) == 1


def test_window_pack_single_shuffle(spark, sf_dir, queries):
    """All window functions partition by o_custkey → Catalyst plans exactly
    one exchange; the differently-ordered Window nodes re-sort in place."""
    plan = plan_of(queries["window_pack"].spark(spark, sf_dir))
    assert n_ops(plan, "Exchange") == 1


def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path):
    """Two tables bucketed on the join key sort-merge-join with zero
    shuffles — the co-location property bucketing pays for at write time."""
    from database_anonymiser_spark.sources.connectors import write_bucketed
    from database_anonymiser_spark.suite.base import load

    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    write_bucketed(o, "b_orders", ["o_orderkey"], 8, path=str(tmp_path / "bo"))
    write_bucketed(li, "b_lineitem", ["l_orderkey"], 8, path=str(tmp_path / "bl"))
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        bo = spark.table("b_orders")
        bl = spark.table("b_lineitem")
        joined = bo.join(bl, bo.o_orderkey == bl.l_orderkey)
        plan = plan_of(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, "bucketed join must not shuffle"
        # sanity: result matches the unbucketed join
        plain = o.join(li, o.o_orderkey == li.l_orderkey)
        assert joined.count() == plain.count()
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_masking_is_single_projection_no_shuffle(spark, sf_dir, queries):
    """The anonymisation pipeline must stay one narrow codegen'd projection:
    zero exchanges, zero Python evals."""
    plan = plan_of(queries["anonymise_customer"].spark(spark, sf_dir))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "WholeStageCodegen" in plan_of_codegen(
        queries["anonymise_customer"].spark(spark, sf_dir)
    )


def plan_of_codegen(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("codegen")
    return buf.getvalue()


def test_partitioned_write_prunes_partitions(spark, sf_dir, tmp_path):
    """A dataset partitioned on a filter column must show partition pruning
    in the scan (the filter never touches non-matching files) — the layout
    tool for time/tenant-sliced 100 TB datasets."""
    from database_anonymiser_spark.sources import read_table, write_table
    from database_anonymiser_spark.suite.base import load

    o = load(spark, sf_dir, "orders")
    out = str(tmp_path / "orders_by_status")
    write_table(o, out, partition_by=["o_orderstatus"])
    back = read_table(spark, out).where(F.col("o_orderstatus") == "F")
    plan = plan_of(back)
    assert "PartitionFilters" in plan and "o_orderstatus" in plan.split("PartitionFilters", 1)[1].split("\n")[0]
    # correctness: same rows as filtering the unpartitioned table
    assert back.count() == o.where(F.col("o_orderstatus") == "F").count()


def test_q14_broadcasts_part_and_pushes_date_filter(spark, sf_dir, queries):
    """tpch_q6_q14's Q14 branch: the dim side broadcasts (the month of
    lineitem never shuffles for the join) and the shipdate ranges reach the
    parquet scans."""
    plan = plan_of(queries["tpch_q6_q14"].spark(spark, sf_dir))
    assert n_ops(plan, "BroadcastExchange") == 1
    assert "SortMergeJoin" not in plan
    assert "PushedFilters" in plan and "l_shipdate" in plan.split("PushedFilters")[1][:200]


def test_q1_is_single_pass_partial_agg(spark, sf_dir, queries):
    """tpch_q1: one scan, map-side partial aggregation, and exactly one
    shuffle of ≤4-row partials (plus the final tiny orderBy exchange)."""
    plan = plan_of(queries["tpch_q1"].spark(spark, sf_dir))
    assert "partial_sum" in plan
    assert n_ops(plan, "Scan parquet ") <= 1 or plan.count("Scan parquet") == 1
    assert n_ops(plan, "Exchange") <= 2  # agg shuffle + rangepartition for sort


def test_ivf_index_partition_pruning(spark, sf_dir, tmp_path):
    """The persisted IVF-SQ index partitioned by list id prunes at the
    scan: probing n lists reads ONLY those partitions (the property that
    makes per-query cost ~n_probe/K of the index bytes at 100 TB)."""
    from database_anonymiser_spark.operators import similarity as SIM
    from database_anonymiser_spark.suite.base import load

    emb = load(spark, sf_dir, "embeddings")
    cents_rows = emb.orderBy("vec_id").limit(8).select("vec_id", "embedding").collect()
    cents = [(int(r[0]), [float(x) for x in r[1]]) for r in cents_rows]
    path = str(tmp_path / "ivf_index")
    SIM.ivf_int8_index(emb, "vec_id", "embedding", cents).write.partitionBy(
        "_cid"
    ).parquet(path)

    probed = spark.read.parquet(path).where(F.col("_cid").isin([0, 3]))
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "_cid" in plan.split("PartitionFilters")[1][:200]
    # and the pruned read returns exactly the probed lists
    assert {r["_cid"] for r in probed.select("_cid").distinct().collect()} <= {0, 3}


def test_curate_full_pipeline_plan_is_clean(spark, sf_dir):
    """The COMPOSED curation pipeline with every gate enabled (C4 clean +
    boilerplate + line dedup + repetition + near-dedup + decontam +
    mixture) must plan without CartesianProduct / BroadcastNestedLoopJoin
    and without row-at-a-time Python eval (BatchEvalPython) — the same
    red-flag bar the declared queries meet."""
    from database_anonymiser_spark.operators.curate import curate_corpus
    from database_anonymiser_spark.suite.base import load

    docs = load(spark, sf_dir, "documents")
    out = curate_corpus(
        docs,
        min_tokens=3,
        clean_lines=True,
        drop_boilerplate=True,
        dedup_lines_min_docs=2,
        drop_repetitive=True,
        near_dedup=True,
        decontam_n=5,
        mixture_rates={"src0": 2.0},
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan  # Arrow-batched Python only


def test_explode_chain_not_duplicated_into_scan_filter(spark, sf_dir):
    """r15: a bare explode of an expensive array chain lets Catalyst infer
    ``size(chain) > 0`` and push the WHOLE chain into the scan stage
    (evaluated twice per row there, on the scan's task count). The
    explode_outer + isNotNull pattern (dedup.explode_nonempty) must keep
    the chain out of every Filter: here, the shingle construction
    (array_join) may appear in the plan only as the generator's input
    projection, never inside a Filter node."""
    from database_anonymiser_spark.operators.dedup import shingles
    from database_anonymiser_spark.suite.base import load

    docs = load(spark, sf_dir, "documents")
    sh = shingles(docs, "doc_id", "text", n=5)
    plan = sh._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "Filter" in line and "array_join" in line:
            raise AssertionError(
                "shingle chain leaked into a Filter (inferred-filter "
                "pushdown regression):\n" + line
            )


def test_explode_nonempty_row_set_matches_bare_explode(spark):
    """r15: the explode_outer + isNotNull rendering must emit exactly the
    rows bare explode emits — including NULL text, empty text, and
    below-n docs (empty shingle arrays)."""
    from database_anonymiser_spark.operators.dedup import (
        dup_spans,
        line_dedup,
        shingle_array,
        shingles,
        simhash,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f"),
            (2, None),
            (3, ""),
            (4, "one"),
            (5, "x y z"),
            (6, "l1\nl2\nl1"),
        ],
        "doc_id long, text string",
    )
    got = shingles(docs, "doc_id", "text", n=3)
    arr = shingle_array(docs, "doc_id", "text", n=3)
    ref = arr.select(F.col("doc_id"), F.explode("shingle_arr").alias("shingle"))
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, ref.collect()))
    # the other rewritten operators still produce one row per input doc /
    # the expected aggregates on the same edge cases
    assert simhash(docs, "doc_id", "text").count() == 5  # NULL text drops
    assert dup_spans(docs, "doc_id", "text", k=2).count() == 6
    assert line_dedup(docs, "doc_id", "text").count() == 6


def test_explode_nonempty_debug_keeps_caller_columns(spark, monkeypatch):
    """Under SPARK_GRAFT_DEBUG=1 the contract check selects a helper
    column beside the caller's; a caller column with the helper's usual
    name (``_src_sz``) must survive, values intact."""
    from database_anonymiser_spark.operators.dedup import explode_nonempty

    monkeypatch.setenv("SPARK_GRAFT_DEBUG", "1")
    df = spark.createDataFrame(
        [(1, 10, ["a", "b"]), (2, 20, [])],
        "id long, _src_sz long, arr array<string>",
    )
    got = explode_nonempty(df, "arr", "x", "id", "_src_sz")
    assert got.columns == ["id", "_src_sz", "x"]
    assert sorted(map(tuple, got.collect())) == [(1, 10, "a"), (1, 10, "b")]


def _heavy_filter_lines(plan: str) -> list[str]:
    """Filter lines carrying a heavy derived chain — the r15
    inferred-generate-filter class. 'array_join(' marks the shingle /
    n-gram construction chains; 'md5(' together with 'transform(' marks
    a derived-signature chain — EXCEPT the bloom membership probe, whose
    forall(transform(...)) filter IS the declared map-side operator
    (evaluated once, not a duplicated derivation). Cheap single-md5
    bucket filters (train/eval split, hash sampling) are the declared
    semantics and stay exempt."""
    bad = []
    for line in plan.splitlines():
        if "Filter" not in line:
            continue
        if "array_join(" in line:
            bad.append(line.strip())
        elif "size(split(" in line:
            # the token-split chain (tfidf / heavy_hitters / chunking
            # explodes): an inferred size(split(text,..)) > 0 filter
            # re-evaluates the tokenisation in the scan stage
            bad.append(line.strip())
        elif "md5(" in line and "transform(" in line and "forall(" not in line:
            bad.append(line.strip())
    return bad


def test_no_heavy_chain_in_any_declared_filter(spark, sf_dir, queries):
    """r16 sweep (generalizes the r15 single-query pin): NO declared
    query's physical plan may carry a shingle/n-gram/signature chain
    inside a Filter condition — Catalyst's InferFiltersFromGenerate +
    PushDownPredicates would otherwise re-evaluate the pipeline's most
    expensive per-row work in the scan stage, twice per row (guide
    §4.4's duplicated-evaluation class; fixed operator-by-operator in
    r15 via dedup.explode_nonempty)."""
    flags = {}
    for name, spec in queries.items():
        plan = spec.spark(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        bad = _heavy_filter_lines(plan)
        if bad:
            flags[name] = bad[0][:200]
    assert not flags, f"heavy chains inside Filter conditions: {flags}"
