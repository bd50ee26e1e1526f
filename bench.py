"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1)
on local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:
{"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Headline set spans the engine's operator families: full-pipeline
anonymisation, scan+agg, fact-fact join, window, streaming-equivalent
windowing, dedup (minhash), similarity (brute-force top-k), text analysis,
plus the COMPOSED curation pipeline in its fully-gated configuration
(curate_corpus_full — round 5: the product surface timed end to end).
Each query executes to completion (count/collect of the final result), timed
after a warm-up of the Spark session on a trivial action.

Measurement hygiene (round 4): every headline query runs REPS times and the
MINIMUM is reported — the min is the least-load-contaminated observation, so
round-over-round deltas reflect code, not machine weather (round 3's
untouched queries inflated ~1.5x uniformly under load while the pure-JVM
control moved only 6%). Two same-run controls bracket the load regimes:
``control_sec`` (pure-JVM whole-stage-codegen sum) and
``control_shuffle_arrow_sec`` (shuffle + Arrow Python round trip —
sensitive to exactly the executor/worker contention the JVM control
under-represented).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Round-2 renames (suite consolidation): agg_group→tpch_q1 subsumed it, so
# agg_multidim stands in for the aggregation slot; window_rank→window_pack;
# tpch_q14→tpch_q6_q14; text_quality→text_profile; func_json_struct→func_json.
# sim_cosine_pairs joins the set now that it's LSH-blocked (was a crossJoin).
# join_asof now computes all THREE directions (backward/forward/nearest) in
# one query — its timing is not comparable 1:1 with round 1's backward-only.
# Round 5 adds curate_corpus_full (~9-10s at sf0.1: the 9-stage composed
# pipeline end to end), so the TOTAL is not comparable 1:1 with r4's 19-query
# total; compare per-query. Round 5 also adds the three new pipeline
# operators — same caveat. After the round-5 consolidation (gate checks the
# 50 alphabetically-first entries) they ride as: text_quality_spans
# (classifier + duplicated-span detection), sim_cosine_pairs (now also the
# SemDeDup closure), dedup_minhash (now also simhash).
# Round 6 adds join_bloom_xxhash64 (the production hash family next to the
# md5 oracle family) to the timed set — the TOTAL again gains an entry —
# and a curate_stage_sec side dict attributing curate_corpus_full's wall
# time per pipeline stage via cumulative prefixes (single rep each; the
# headline min-of-REPS total is computed before and unaffected).
# Round 7 adds storage_churn (the versioned-table lifecycle composite:
# create → trickle merges → scoped update/delete → compact → retention
# vacuum → snapshot + change feed) to the timed set — the TOTAL gains an
# entry again — plus two side dicts: storage_meta_reads (COMMIT_READS /
# DATA_FILES_READ of one lifecycle) and ann_recall (recall@10 of the
# ivf/pq/lsh branches vs brute force).
#: repetitions per timed job; the reported number is the minimum
REPS = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))

#: pinned IDLE-machine control constants (round 11 — three consecutive
#: rounds of records needed load-drift archaeology to read): the
#: builder's documented idle band for the pure-JVM control is
#: 0.128-0.150s (midpoint pinned) and the r8 record — the cleanest
#: idle capture — put the shuffle+Arrow control at 1.007s. Every
#: record now self-labels with load_band = measured control / pinned
#: idle, so a 0.35s control reads as "2.5x loaded" without comparing
#: rounds by hand; per-query regression reads should normalize
#: sub-second queries by it.
IDLE_CONTROL_SEC = 0.14
IDLE_CONTROL_SA_SEC = 1.0

#: the fully-gated curate_corpus configuration that curate_corpus_full
#: and the stage attribution time (tools/perf_probe.py reuses it); the
#: embeddings frame is passed alongside
CURATE_KWARGS = dict(
    min_tokens=3,
    drop_boilerplate=True,
    dedup_lines_min_docs=3,
    drop_repetitive=True,
    near_dedup=True,
    cluster_balance=200,
    decontam_n=8,
    mixture_rates={"src0": 2.0, "src1": 0.5},
    token_budgets={"src2": 2_000},
)

HEADLINE = [
    "anonymise_customer",
    "agg_multidim",
    "join_sortmerge",
    "join_broadcast",
    "join_asof",
    "tpch_q1",
    "tpch_q3",
    "tpch_q5",
    "tpch_q6_q14",
    "window_pack",
    "topk_orders",
    "stream_session",
    "dedup_minhash",
    "dedup_exact",
    "join_bloom",
    "text_quality_spans",
    "sim_topk_bruteforce",
    "sim_cosine_pairs",
    "text_profile",
    "func_json",
    "mm_binary_meta",
]


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]
    from database_anonymiser_spark.session import get_spark
    from database_anonymiser_spark.suite import all_queries

    spark = get_spark(app_name="bench")
    spark.sparkContext.setLogLevel("ERROR")
    specs = all_queries()

    # warm-up: JVM + parquet footer caches + Arrow Python workers (workers
    # are long-lived under spark.python.worker.reuse, as on a real cluster;
    # interpreter spin-up is environment cost, not query cost)
    spark.range(1000).count()

    def _identity_batches(it):
        yield from it

    spark.range(10_000).repartition(32).mapInPandas(_identity_batches, "id long").count()

    # same-run controls: fixed data-independent jobs whose timing tracks
    # machine load. Two regimes: the pure-JVM sum (whole-stage codegen, no
    # shuffle) and a shuffle + Arrow Python round trip — Python-worker and
    # exchange contention shows up in the second long before the first.
    def _time(job) -> float:
        best = float("inf")
        for _ in range(REPS):
            t0 = time.perf_counter()
            job()
            best = min(best, time.perf_counter() - t0)
        return round(best, 3)

    control = _time(lambda: spark.range(50_000_000).selectExpr("sum(id * 2)").collect())

    def _shuffle_arrow_control():
        (
            spark.range(2_000_000)
            .repartition(32)
            .mapInPandas(_identity_batches, "id long")
            .selectExpr("id % 97 AS k")
            .groupBy("k")
            .count()
            .count()
        )

    control_sa = _time(_shuffle_arrow_control)
    # self-labeling load factor (round 11): measured controls vs the
    # pinned idle constants; [jvm_band, shuffle_arrow_band] — ~1.0 on an
    # idle machine, >1 under load; every record carries its own weather
    load_band = [
        round(control / IDLE_CONTROL_SEC, 2),
        round(control_sa / IDLE_CONTROL_SA_SEC, 2),
    ]

    timings: dict[str, float] = {}

    def _bench(name, job):
        best, rows = float("inf"), 0
        for _ in range(REPS):
            t0 = time.perf_counter()
            rows = job()
            best = min(best, time.perf_counter() - t0)
            # queries may .cache() internal stages (e.g. stream_windows'
            # pre-agg); clear between reps so timings stay independent
            spark.catalog.clearCache()
        timings[name] = round(best, 3)
        print(f"# {name}: {best:.2f}s ({rows} rows, min of {REPS})", file=sys.stderr)

    for name in HEADLINE:
        spec = specs[name]
        _bench(name, lambda spec=spec: spec.spark(spark, sf_dir).count())

    # --- tpch_q2 over a MATERIALIZED partsupp (round-7 verdict #7): the
    # declared q2ps row pays the lineitem-DISTINCT derivation CTE inside
    # every run (correctness rig); benching the SHAPE itself — four-way
    # star join + correlated min-cost subquery — needs partsupp as a real
    # fixture table. Materialized once per sf into .benchdata/ by the SAME
    # _PS_CTE text through DuckDB, so content is identical to the CTE.
    from database_anonymiser_spark.suite import relational_more as RM
    from database_anonymiser_spark.suite.base import load as _load

    bench_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".benchdata")
    os.makedirs(bench_dir, exist_ok=True)
    ps_path = os.path.join(bench_dir, f"partsupp_sf{sf}.parquet")
    if not os.path.exists(ps_path):
        import duckdb

        duckdb.sql(
            f"CREATE VIEW lineitem AS FROM '{sf_dir}/lineitem.parquet'; "
            f"COPY (WITH {RM._PS_CTE} SELECT * FROM partsupp ORDER BY "
            f"ps_partkey, ps_suppkey) TO '{ps_path}' (FORMAT PARQUET)"
        )

    def _q2ps_job():
        for t in ("part", "supplier", "nation", "region"):
            _load(spark, sf_dir, t).createOrReplaceTempView(t)
        spark.read.parquet(ps_path).createOrReplaceTempView("partsupp")
        return spark.sql(RM.q2ps_sql_standalone()).count()

    _bench("tpch_q2_partsupp", _q2ps_job)

    # the composed curation pipeline IS the product surface (VERDICT r4 #5):
    # one fully-gated configuration — boilerplate drop + cross-doc line
    # dedup + repetition gate + exact & MinHash near dedup + split +
    # decontamination + mixture + token-budget mix — timed end to end, not
    # just its stages. clean_lines stays OFF here: the fixture documents
    # are single-line word streams without terminal punctuation, so the C4
    # line filter legitimately empties every doc and the headline would be
    # a 0-row no-op (the C4 expressions' cost is already timed inside the
    # text_profile headline, where they are packed). At sf0.1 the output
    # is ~4.8k docs with every gate visibly biting (src0 upsampled 2x,
    # src1 kept at ~half, src2 token-capped).
    from pyspark.sql import functions as F

    from database_anonymiser_spark.operators.curate import curate_corpus
    from database_anonymiser_spark.suite.base import load

    # round 9: the configuration gains the cluster_balance stage
    # (semantic_clusters -> cluster_balanced_sample between near-dedup and
    # split - the SemDeDup/Sorscher recipe), so curate_corpus_full is NOT
    # comparable 1:1 with r8 (same caveat class as the r5/r6 additions);
    # the stage's marginal cost appears in curate_stage_sec['balance'].
    def _curate_full():
        n = curate_corpus(
            load(spark, sf_dir, "documents"),
            embeddings=load(spark, sf_dir, "embeddings"),
            **CURATE_KWARGS,
        ).count()
        assert n > 0, "curate_corpus_full produced 0 rows - vacuous bench"
        return n

    _bench("curate_corpus_full", _curate_full)

    # --- join_bloom production family (round-5 verdict #2): the declared
    # entry benches the md5 family because the ORACLE must replay the hash
    # cross-engine; production probes use seeded xxhash64 (pure JVM, no
    # strings). Recording both quantifies the md5 chain as oracle-parity
    # cost, not operator cost. Same shape as the declared query: build on
    # high-value orders, map-side probe of lineitem, plus the exact
    # semi-join twin.
    from database_anonymiser_spark.operators.bloom import bloom_semi_join

    def _bloom_xx():
        # r15: same probe-side parallelism floor + shared narrow frame +
        # distinct-free semi build side as the declared join_bloom entry
        # (suite/relational_ext.py) — identical result, wide probe
        from database_anonymiser_spark.operators.parallel import scan_floor

        orders = load(spark, sf_dir, "orders").where(F.col("o_totalprice") > 400000.0)
        li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_returnflag")
        li = scan_floor(li, barrier_slot="join_bloom_xx.probe")
        passed = bloom_semi_join(
            li, "l_orderkey", orders, "o_orderkey", family="xxhash64"
        )
        bloom_agg = passed.groupBy("l_returnflag").agg(
            F.count(F.lit(1)).alias("bloom_rows")
        )
        exact_agg = (
            li.join(
                orders.select("o_orderkey"),
                li.l_orderkey == F.col("o_orderkey"),
                "left_semi",
            )
            .groupBy("l_returnflag")
            .agg(F.count(F.lit(1)).alias("exact_rows"))
        )
        return bloom_agg.join(exact_agg, "l_returnflag").count()

    _bench("join_bloom_xxhash64", _bloom_xx)

    # --- storage-layer composite (round-6 verdict #4): the versioned
    # table is the engine's flagship component but had zero bench
    # presence. One lifecycle — create → 5 trickle merges → scoped
    # update → scoped delete → compact → retention vacuum → snapshot +
    # change feed — timed like every headline (min of REPS), with the
    # LAST rep's metadata-read counters (COMMIT_READS: commit JSONs
    # parsed; DATA_FILES_READ: data files referenced by constructed
    # reads) recorded as a side dict so a metadata-cost regression shows
    # up as a NUMBER, not a vibe.
    from tools.storage_probe import storage_churn as _churn_lifecycle

    storage_meta: dict[str, int] = {}
    _bench("storage_churn", lambda: _churn_lifecycle(spark, sf_dir, storage_meta))

    # --- streaming near-dedup ingest telemetry (round 8): the
    # corpus-lifetime MinHash dedup sink is the continuous-ingest path a
    # training pipeline runs. One 3-batch lifecycle of the fixture's
    # documents through apply_neardedup_batch (in-batch LSH + signature-
    # store probe + point-skipped merges + one Z-ORDER), recorded ONCE as
    # a side dict (the ann_recall precedent) — wall + per-batch counters,
    # NOT a headline timing: a micro-batch pipeline is driver-latency-
    # bound at fixture scale (~15 bounded Spark jobs/batch), so 3 reps
    # would triple the bench for a number whose regression tripwire is
    # the FILE-READ counter, not the wall clock.
    # composite-key lifecycle (round 11): tuple-point trickle counters —
    # the files_touched sum is the conjunction-skipping tripwire (must
    # stay ~flat across scale, like the single-key trickle's)
    from tools.storage_probe import composite_churn as _ck_lifecycle

    composite_meta: dict[str, int] = {}
    _t0 = time.perf_counter()
    _ck_rows = _ck_lifecycle(spark, sf_dir, composite_meta)
    composite_meta["lifecycle_sec"] = round(time.perf_counter() - _t0, 3)
    print(
        f"# composite_churn: {composite_meta['lifecycle_sec']:.2f}s "
        f"({_ck_rows} rows, touched {composite_meta['files_touched']}, "
        f"carried {composite_meta['files_carried']})",
        file=sys.stderr,
    )

    # incremental-clustering lifecycle (round 12): the per-pass file-read
    # list is the O(new data) tripwire — each incremental pass must read
    # only the trickle's files, never the table
    from tools.storage_probe import clustering_churn as _cl_lifecycle

    clustering_meta: dict = {}
    _t0 = time.perf_counter()
    _cl_rows = _cl_lifecycle(spark, sf_dir, clustering_meta)
    clustering_meta["lifecycle_sec"] = round(time.perf_counter() - _t0, 3)
    print(
        f"# clustering_churn: {clustering_meta['lifecycle_sec']:.2f}s "
        f"({_cl_rows} rows, initial {clustering_meta['initial_files_read']}, "
        f"incremental {clustering_meta['incremental_files_read']})",
        file=sys.stderr,
    )

    from tools.storage_probe import neardedup_stream as _nd_lifecycle

    neardedup_meta: dict[str, float] = {}
    _t0 = time.perf_counter()
    _nd_kept = _nd_lifecycle(spark, sf_dir, neardedup_meta)
    neardedup_meta["lifecycle_sec"] = round(time.perf_counter() - _t0, 3)
    neardedup_meta["kept_docs"] = _nd_kept
    print(
        f"# neardedup_stream: {neardedup_meta['lifecycle_sec']:.2f}s "
        f"({_nd_kept} kept, 1 rep)",
        file=sys.stderr,
    )

    # --- transactional fan-out telemetry (round 9): 3 epochs of the
    # documents fixture into two versioned tables, each epoch ONE
    # cross-table transaction (the run_stream_fanout_txn protocol).
    # Recorded once as a side dict like the other lifecycles; the
    # regression tripwire is epoch_commit_reads (the finalize + witness
    # metadata cost must stay O(tables × scan cap), never O(history)).
    from tools.storage_probe import txn_fanout as _txn_lifecycle

    txn_fanout_meta: dict[str, float] = {}
    _t0 = time.perf_counter()
    _txn_rows = _txn_lifecycle(spark, sf_dir, txn_fanout_meta)
    txn_fanout_meta["lifecycle_sec"] = round(time.perf_counter() - _t0, 3)
    print(
        f"# txn_fanout: {txn_fanout_meta['lifecycle_sec']:.2f}s "
        f"({_txn_rows} rows x 2 tables, commit_reads/epoch "
        f"{txn_fanout_meta['epoch_commit_reads']})",
        file=sys.stderr,
    )

    # --- DataSource read faces (round 9): the same snapshot aggregate
    # native vs format("versioned") (the ratio = Arrow-source overhead),
    # plus one streaming CDF drain of the lifecycle's change events.
    from tools.storage_probe import datasource_read as _ds_probe

    datasource_meta: dict[str, float] = {}
    _ds_rows = _ds_probe(spark, sf_dir, datasource_meta)
    # round 14: incremental-materialized-view lifecycle — refresh must
    # cost O(source changes), the recompute O(table); counters gate
    from tools.storage_probe import ivm_lifecycle as _ivm_probe

    ivm_meta: dict[str, float] = {}
    _ivm_rows = _ivm_probe(spark, sf_dir, ivm_meta)
    print(
        f"# ivm: build {ivm_meta['build_sec']:.2f}s; refresh "
        f"{ivm_meta['refresh_sec']:.2f}s reading "
        f"{ivm_meta['refresh_files_read']} file(s) vs recompute "
        f"{ivm_meta['recompute_sec']:.2f}s reading "
        f"{ivm_meta['recompute_files_read']} ({_ivm_rows} groups)",
        file=sys.stderr,
    )
    print(
        f"# datasource_read: native {datasource_meta['native_read_sec']:.2f}s "
        f"vs arrow-source {datasource_meta['datasource_read_sec']:.2f}s "
        f"cold ({_ds_rows} rows); warm "
        f"{datasource_meta['native_read_warm_sec']:.2f}s vs "
        f"{datasource_meta['datasource_read_warm_sec']:.2f}s; scoped "
        f"pushdown {datasource_meta['pushdown_read_sec']:.2f}s vs plain "
        f"{datasource_meta['scoped_read_nopush_sec']:.2f}s; "
        f"cdf drain {datasource_meta['cdf_drain_sec']:.2f}s "
        f"({datasource_meta['cdf_events']} events); replicate "
        f"{datasource_meta['replicate_sec']:.2f}s",
        file=sys.stderr,
    )

    # --- training-shard export lifecycle (round 9): the terminal
    # curation handoff — token-sized shards + manifest + verify over the
    # fixture's documents. One rep (lifecycle class, like neardedup):
    # the regression tripwires are the structural counters
    # (one file per shard, verify_ok), the walls attribute cost.
    from tools.storage_probe import shard_export_probe as _export_probe

    export_meta: dict[str, float] = {}
    _exp_rows = _export_probe(spark, sf_dir, export_meta)
    print(
        f"# shard_export: write {export_meta['export_sec']:.2f}s, verify "
        f"{export_meta['verify_sec']:.2f}s ({_exp_rows} rows -> "
        f"{export_meta['n_shards']} shards, ok={export_meta['verify_ok']})",
        file=sys.stderr,
    )

    # --- BPE tokenizer lifecycle probe (round-10 verdict #4): train wall
    # over the SF corpus' word-frequency table + apply throughput
    # (tokens/sec through the Arrow applier with its per-batch piece
    # memo). A side metric, not a headline query — the train loop's
    # wall is dominated by per-round job overhead at this tiny scale.
    from database_anonymiser_spark.operators.tokenizer import (
        apply_bpe,
        train_bpe,
    )

    _docs_tok = load(spark, sf_dir, "documents")
    _t0 = time.perf_counter()
    _merges = train_bpe(_docs_tok, "text", 24)
    _train_sec = round(time.perf_counter() - _t0, 3)
    _t0 = time.perf_counter()
    _tok_total = int(
        apply_bpe(_docs_tok, "doc_id", "text", _merges)
        .agg(F.sum("n_bpe_tokens"))
        .first()[0]
    )
    _apply_sec = round(time.perf_counter() - _t0, 3)
    tokenizer_meta = {
        "train_sec": _train_sec,
        "n_merges": len(_merges),
        "apply_sec": _apply_sec,
        "tokens": _tok_total,
        "tokens_per_sec": int(_tok_total / _apply_sec) if _apply_sec else 0,
    }
    print(f"# tokenizer: {tokenizer_meta}", file=sys.stderr)

    total = round(sum(timings.values()), 3)

    # --- ANN recall telemetry (round-6 verdict #8): recall@10 of each
    # approximate branch vs the exact brute-force top-k on the bench
    # fixture — the versioned index store exists to hunt recall
    # regressions across builds, so the bench records the number the
    # hunt needs (floors are asserted in tests/test_suite_ops.py).
    from database_anonymiser_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
        lsh_bucket_topk,
        pq_codebooks,
        pq_index,
        pq_topk,
    )

    from database_anonymiser_spark.operators.similarity import train_pq_codebooks

    emb = load(spark, sf_dir, "embeddings")
    books = pq_codebooks(emb, "vec_id", "embedding", 8, 16)
    pidx = pq_index(emb, "vec_id", "embedding", books).cache()
    pidx.count()
    tbooks = train_pq_codebooks(emb, "vec_id", "embedding", 8, 16, n_iter=3)
    tidx = pq_index(emb, "vec_id", "embedding", tbooks).cache()
    tidx.count()
    K = 10
    QS = (1, 701, 1301)
    exact_sets = {
        q: {
            r["vec_id"]
            for r in brute_force_topk(emb, "vec_id", "embedding", q, K).collect()
        }
        for q in QS
    }

    def _recall(mk) -> float:
        hits = sum(
            len(exact_sets[q] & {r["vec_id"] for r in mk(q).collect()}) / K
            for q in QS
        )
        return round(hits / len(QS), 3)

    # headline recall@10 of each branch AT ITS PRODUCTION DEFAULTS
    # (round-9 re-tune: ivf/ivf_sq n_probe=8 and pq auto-refine = N/8,
    # both justified on TWO scales - see ann_recall_sf1 below; lsh 8
    # planes + QUERY-DIRECTED probing at the SAME 93-bucket budget the
    # old 3-flip rule spent, now margin-ranked — round 13: 0.733→0.833)
    ann_recall = {
        "ivf": _recall(lambda q: ivf_topk(emb, "vec_id", "embedding", q, K, 16)),
        "pq": _recall(
            lambda q: pq_topk(pidx, emb, "vec_id", "embedding", q, books, K)
        ),
        "pq_trained": _recall(
            lambda q: pq_topk(tidx, emb, "vec_id", "embedding", q, tbooks, K)
        ),
        "lsh": _recall(
            lambda q: lsh_bucket_topk(
                emb, "vec_id", "embedding", q, K, n_planes=8, dim=64,
                n_probes=93,
            )
        ),
        # the pre-r13 blind-flip default, kept as the comparison row
        "lsh_flip3": _recall(
            lambda q: lsh_bucket_topk(
                emb, "vec_id", "embedding", q, K, n_planes=8, dim=64
            )
        ),
    }
    # recall-vs-knob curves (round-7 verdict #2): the sweep that justifies
    # each default, re-recorded every round so a recall regression names
    # the branch AND the operating point that moved
    ann_recall_curve = {
        "ivf_n_probe": {
            str(p): _recall(
                lambda q: ivf_topk(emb, "vec_id", "embedding", q, K, 16, p)
            )
            for p in (4, 6, 8)
        },
        "lsh_n_flip": {
            str(f): _recall(
                lambda q: lsh_bucket_topk(
                    emb, "vec_id", "embedding", q, K, n_planes=8, dim=64, n_flip=f
                )
            )
            for f in (1, 2, 3)
        },
        # round 13: query-directed probing (margin-ranked masks) — the
        # sweep that justifies the n_probes=64 default above
        "lsh_n_probes": {
            str(p): _recall(
                lambda q: lsh_bucket_topk(
                    emb, "vec_id", "embedding", q, K, n_planes=8, dim=64,
                    n_probes=p,
                )
            )
            for p in (32, 64, 93, 144)
        },
        # 0 = raw ADC (no refine stage) — the round-7 `weak` operating point
        "pq_refine_k": {
            str(rk if rk else 0): _recall(
                lambda q: pq_topk(
                    pidx, emb, "vec_id", "embedding", q, books, K,
                    refine_k=rk or None,
                )
            )
            for rk in (0, 100, 250)
        },
    }
    pidx.unpersist()
    tidx.unpersist()

    # --- ANN recall at sf1 (round-8 verdict #5): the production probe
    # defaults are recall-justified at sf0.1; IVF probe coverage degrades
    # as lists grow, so the SAME defaults are re-measured on the 10x
    # derived corpus (tools/gen_benchdata.py embeddings — component-
    # shuffled replicas: norms preserved, neighborhoods decorrelated).
    # Skipped silently when the derived set is absent.
    ann_recall_sf1: dict[str, float] = {}
    _sf1_dir = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), ".benchdata", "sf1"
    )
    if os.path.exists(os.path.join(_sf1_dir, "embeddings.parquet")):
        from tools.ann_probe import ann_recall_headline

        ann_recall_sf1 = ann_recall_headline(spark, _sf1_dir)
        print(f"# ann_recall_sf1: {ann_recall_sf1}", file=sys.stderr)

    # --- curate_corpus stage attribution (round-5 verdict #3): cumulative
    # prefixes of the SAME fully-gated configuration, timed once each; the
    # delta between consecutive prefixes attributes that stage's marginal
    # wall time (each prefix recomputes from the scan, so deltas include
    # the stage's own recompute amplification — the quantity a perf round
    # actually wants). Reported as a side dict; the headline total above
    # is untouched.
    def _curate_prefix(stop):
        return curate_corpus(
            load(spark, sf_dir, "documents"),
            embeddings=load(spark, sf_dir, "embeddings"),
            stop_after=stop,
            **CURATE_KWARGS,
        ).count()

    # round 11 (verdict #5): min-of-REPS PER CUMULATIVE PREFIX, then
    # marginals from the minima — the pipeline-level ±25% idle band came
    # from summing one noisy draw per stage; minima of cumulative
    # prefixes are each stable, so their differences (and the emitted
    # curate_stage_total_sec) are too.
    curate_stages: dict[str, float] = {}
    prev = 0.0
    for stage in ("gates", "exact", "near", "balance", "split", "decontam", None):
        cum = float("inf")
        for _ in range(REPS):
            t0 = time.perf_counter()
            _curate_prefix(stage)
            cum = min(cum, time.perf_counter() - t0)
            spark.catalog.clearCache()
        curate_stages[stage or "mix"] = round(max(cum - prev, 0.0), 3)
        prev = cum
    curate_stage_total = round(sum(curate_stages.values()), 3)
    # --- Emit (round-10 verdict #1): the r9 record was LOST because the
    # headline JSON line outgrew the driver's 2000-char tail-capture
    # window (multi-paragraph notes inside the dict). The contract now:
    # the final stdout line is ONE COMPACT JSON (size-asserted), prose
    # lives in BENCH_NOTES.md, and the full side-metric dicts land in
    # bench_sidecar.json next to this script — both written BEFORE the
    # headline so no stage noise can follow it.
    _here = os.path.dirname(os.path.abspath(__file__))
    sidecar = {
        "metric": "headline_queries_total_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "curate_stage_sec": curate_stages,
        "curate_stage_total_sec": curate_stage_total,
        "storage_meta_reads": storage_meta,
        "composite_meta": composite_meta,
        "clustering_meta": clustering_meta,
        "neardedup_meta": neardedup_meta,
        "txn_fanout_meta": txn_fanout_meta,
        "datasource_meta": datasource_meta,
        "ivm_meta": ivm_meta,
        "export_meta": export_meta,
        "tokenizer_meta": tokenizer_meta,
        "ann_recall": ann_recall,
        "ann_recall_curve": ann_recall_curve,
        "ann_recall_sf1": ann_recall_sf1,
        "control_sec": control,
        "control_shuffle_arrow_sec": control_sa,
        "load_band": load_band,
        "reps": REPS,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "notes": "BENCH_NOTES.md",
    }
    with open(os.path.join(_here, "bench_sidecar.json"), "w") as fh:
        json.dump(sidecar, fh, indent=1)
    headline = json.dumps(
        {
            "metric": "headline_queries_total_sec",
            "value": total,
            "unit": "sec",
            "queries": timings,
            "ann_recall": ann_recall,
            "control_sec": control,
            "control_shuffle_arrow_sec": control_sa,
            "load_band": load_band,
            "curate_stage_total_sec": curate_stage_total,
            "reps": REPS,
            "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            "sidecar": "bench_sidecar.json",
            "notes": "BENCH_NOTES.md",
        },
        separators=(",", ":"),
    )
    # hard guard on the driver's tail-capture window
    assert len(headline) < 1900, f"headline JSON too long ({len(headline)})"
    sys.stderr.flush()
    print(headline)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
