"""Per-query perf probe for the optimization rounds (guide §1).

For each named ``queries()`` entry: captures ``explain("formatted")`` to
``plans/<tag>/<name>_<suffix>.txt`` and times the query with BOTH actions —
the bench's ``.count()`` (what BENCH_rNN records) and the noop sink
(``write.format("noop")`` — computes every column, isolating the
computation from the count-only column pruning). Jobs are labeled via
``setJobDescription`` so the UI attributes them.

Usage:
    python tools/perf_probe.py --names join_bloom,dedup_minhash \
        [--sf /root/testdata/sf0.1] [--reps 3] [--tag r15] [--suffix before]
    python tools/perf_probe.py --names all          # every headline query
    python tools/perf_probe.py --curate-stages      # bench-style cumulative
        # prefix attribution of curate_corpus_full at the CURRENT
        # $SPARK_GRAFT_CPUS (r16 VERDICT #1: run at both widths to read
        # the per-stage c8/c32 shape)
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def curate_stages(spark, sf_dir: str, reps: int) -> None:
    """bench.py's cumulative-prefix stage attribution (min of ``reps``
    per prefix, marginals from the minima), printed with the width so
    c8/c32 tables line up."""
    from bench import CURATE_KWARGS
    from database_anonymiser_spark.operators.curate import curate_corpus
    from database_anonymiser_spark.suite.base import load

    def prefix(stop):
        return curate_corpus(
            load(spark, sf_dir, "documents"),
            embeddings=load(spark, sf_dir, "embeddings"),
            stop_after=stop,
            **CURATE_KWARGS,
        ).count()

    width = spark.sparkContext.defaultParallelism
    prev, out = 0.0, {}
    for stage in ("gates", "exact", "near", "balance", "split", "decontam", None):
        best = float("inf")
        for _ in range(reps):
            t0 = time.perf_counter()
            prefix(stage)
            best = min(best, time.perf_counter() - t0)
            spark.catalog.clearCache()
        out[stage or "mix"] = round(max(best - prev, 0.0), 3)
        prev = best
    print(f"curate_stages c{width}: {out} total={round(sum(out.values()), 3)}")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--names", default=None)
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--tag", default="r15")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--no-noop", action="store_true")
    ap.add_argument("--no-plan", action="store_true")
    ap.add_argument("--curate-stages", action="store_true")
    args = ap.parse_args()
    if not args.curate_stages and not args.names:
        ap.error("--names is required unless --curate-stages")

    from database_anonymiser_spark.session import get_spark
    from database_anonymiser_spark.suite import all_queries

    spark = get_spark(app_name="perf_probe")
    spark.sparkContext.setLogLevel("ERROR")
    if args.curate_stages:
        spark.range(1000).count()
        curate_stages(spark, args.sf, args.reps)
        return
    specs = all_queries()

    if args.names == "all":
        import bench

        names = list(bench.HEADLINE)
    else:
        names = [n for n in args.names.split(",") if n]

    plan_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        args.tag,
    )
    os.makedirs(plan_dir, exist_ok=True)

    # warm-up identical to bench.py
    spark.range(1000).count()

    def _identity(it):
        yield from it

    spark.range(10_000).repartition(32).mapInPandas(_identity, "id long").count()

    for name in names:
        spec = specs[name]
        df = spec.spark(spark, args.sf)
        if not args.no_plan:
            import contextlib
            import io

            from tools.plan_audit import redact_literals

            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            path = os.path.join(plan_dir, f"{name}_{args.suffix}.txt")
            with open(path, "w") as fh:
                fh.write(redact_literals(buf.getvalue()))
        best_count = float("inf")
        for _ in range(args.reps):
            spark.sparkContext.setJobDescription(f"{name}: count")
            df = spec.spark(spark, args.sf)
            t0 = time.perf_counter()
            rows = df.count()
            best_count = min(best_count, time.perf_counter() - t0)
            spark.catalog.clearCache()
        best_noop = None
        if not args.no_noop:
            best_noop = float("inf")
            for _ in range(args.reps):
                spark.sparkContext.setJobDescription(f"{name}: noop")
                df = spec.spark(spark, args.sf)
                t0 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                best_noop = min(best_noop, time.perf_counter() - t0)
                spark.catalog.clearCache()
        spark.sparkContext.setJobDescription(None)
        noop_s = f" noop={best_noop:.3f}s" if best_noop is not None else ""
        print(f"{name}: count={best_count:.3f}s{noop_s} rows={rows}", flush=True)


if __name__ == "__main__":
    main()
