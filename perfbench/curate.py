"""curate_export: curate a corpus and export verified training shards.

One pass is ``curate_corpus`` in the fully gated configuration below, then
``export_training_shards`` over its result (a write), then
``verify_shards`` over the export (a read).

Output checks, each pass: ``verify_shards(...)["ok"]`` holds, the export
is not empty, and the manifest (rows and checksum per shard) is identical
on every pass.
"""

from __future__ import annotations

import json
import shutil
import time

from perfbench.harness import dir_bytes
from perfbench.workload import Op, Workload, timed

#: every gate on: boilerplate drop, cross-document line dedup, repetition
#: gate, exact and MinHash near dedup, cluster balancing, split,
#: decontamination, per-source mixture and a token budget
CURATE_KWARGS = dict(
    min_tokens=3,
    drop_boilerplate=True,
    dedup_lines_min_docs=3,
    drop_repetitive=True,
    near_dedup=True,
    cluster_balance=20,
    decontam_n=8,
    mixture_rates={"src0": 2.0, "src1": 0.5},
    token_budgets={"src2": 2_000},
)
TOKENS_PER_SHARD = 8_000
STAGES = ("gates", "exact", "near", "balance", "split", "decontam", None)


class CurateExport(Workload):
    name = "curate_export"
    tables = ("documents", "embeddings")

    def __init__(self, data, work, seed):
        super().__init__(data, work, seed)
        self.manifest = None
        self.last_out = None

    def load(self, spark, first: bool) -> None:
        from database_anonymiser_spark.catalog import read_parquet_table

        self.docs = read_parquet_table(spark, str(self.data / "documents.parquet"))
        self.emb = read_parquet_table(spark, str(self.data / "embeddings.parquet"))
        self.n_docs = self.docs.count()

    def input_rows(self) -> int:
        return self.n_docs

    def curated(self, stop_after=None):
        from database_anonymiser_spark.operators.curate import curate_corpus

        return curate_corpus(self.docs, embeddings=self.emb, stop_after=stop_after,
                             **CURATE_KWARGS)

    def _export(self, df, out):
        from database_anonymiser_spark.operators.export import export_training_shards

        return export_training_shards(df, str(out), "doc_id",
                                      tokens_per_shard=TOKENS_PER_SHARD,
                                      n_tokens_col="n_tokens")

    def run_pass(self, spark, tracer) -> list[Op]:
        from database_anonymiser_spark.operators.export import verify_shards

        out = self.work / f"export-{self.passes}"
        self.passes += 1
        with tracer.span("curate.export"):
            op, manifest = timed("write", "curate_export",
                                 lambda: self._export(self.curated(), out), rows=self.n_docs)
        spark.catalog.clearCache()
        if not op.ok:
            return [op]
        with tracer.span("export.verify"):
            rd, res = timed("read", "verify", lambda: verify_shards(spark, str(out)),
                            rows=manifest["total_rows"])
        if rd.ok and not res["ok"]:
            rd.ok, rd.error = False, f"verify_shards mismatched shards {res['mismatched']}"
        shards = json.dumps(manifest["shards"], sort_keys=True)
        self.manifest = self.manifest or shards
        if manifest["total_rows"] == 0 or shards != self.manifest:
            op.ok, op.error = False, "export manifest differs from the first pass"
        if self.last_out is not None:
            shutil.rmtree(self.last_out, ignore_errors=True)
        self.last_out = out
        return [op, rd]

    def space_amp(self, spark) -> float:
        data = sum(p.stat().st_size for p in (self.last_out / "data").rglob("*.parquet"))
        return dir_bytes(self.last_out) / data

    def probes(self, spark, tracer) -> dict:
        """Marginal stage walls from one ``stop_after`` prefix per stage,
        rows after each stage, and export/verify over a materialised
        curated frame."""
        from database_anonymiser_spark.operators.export import verify_shards

        self.curated("gates").count()  # warm: Python workers, text codegen
        spark.catalog.clearCache()
        out, prev = {}, 0.0
        for stage in STAGES:
            label = stage or "mix"
            with tracer.span(f"curate.prefix.{label}"):
                t0 = time.perf_counter()
                # the full pipeline's result is kept for the export probe
                df = self.curated(stage) if stage else self.curated().cache()
                rows = df.count()
                cum = time.perf_counter() - t0
            if stage:
                spark.catalog.clearCache()
            out[f"curate.{label}_s"] = max(cum - prev, 0.0)
            out[f"curate.rows_after.{label}"] = rows
            prev = cum
        out["curate.kept_ratio"] = out["curate.rows_after.mix"] / self.n_docs
        dest = self.work / "export-probe"
        with tracer.span("export.export"):
            t0 = time.perf_counter()
            manifest = self._export(df, dest)
            out["export.export_s"] = time.perf_counter() - t0
        with tracer.span("export.verify_probe"):
            t0 = time.perf_counter()
            verify_shards(spark, str(dest))
            out["export.verify_s"] = time.perf_counter() - t0
        df.unpersist()
        spark.catalog.clearCache()
        out["export.shards"] = manifest["n_shards"]
        out["export.bytes_written"] = dir_bytes(dest)
        return out
