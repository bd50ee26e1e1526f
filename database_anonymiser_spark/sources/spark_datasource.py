"""Spark Python DataSource for versioned tables — ``format("versioned")``.

The Spark-4-native integration face of the versioned layer
(``pyspark.sql.datasource`` — the Python DataSource API, public Spark
4.0 surface): register once, then

    spark.dataSource.register(VersionedDataSource)
    spark.read.format("versioned").option("path", root).load()          # snapshot
    spark.readStream.format("versioned").option("path", root).load()    # follow

The STREAMING face mirrors the Delta streaming source's contract
exactly (public Delta docs: a Delta table as a stream source processes
appends; a commit that changes existing data errors unless
``skipChangeCommits`` is set; ``dataChange=false`` housekeeping commits
are skipped silently):

- each micro-batch covers the commit interval (start, end] chosen by
  Spark from ``latestOffset``; offsets ride Spark's own streaming
  checkpoint, so exactly-once replay is the runtime's, not ours;
- ROW-PRESERVING commits (``ROW_PRESERVING_OPS``: compact,
  optimize_zorder, analyze — the dataChange=false class) are skipped:
  a compaction must never re-deliver the table;
- a commit with ``removes`` that rewrites rows (merge/update/delete)
  RAISES by default; ``skipChangeCommits=true`` skips it whole;
- ``startingVersion`` (default 0) picks where the follow begins —
  0 streams the full history from the initial snapshot, ``latest``
  starts at the current head (new appends only);
- ``readChangeFeed=true`` (Delta's streaming CDF): instead of append
  rows, every commit's ROW-LEVEL CHANGE EVENTS are delivered with
  Delta CDF's exact layout — data columns then ``_change_type``
  (insert | delete | update_preimage | update_postimage),
  ``_commit_version``, ``_commit_timestamp``. Pure-append commits stay
  one-partition-per-file (no join); change commits become one diff
  partition each, Arrow-joined executor-side on the key under the same
  (path, dv) file identity as ``VersionedTable.diff`` — O(that
  commit's changed files), bounded by the writer's batch scope.

Execution model: the driver only lists tiny commit JSONs (the same
checkpoint-bounded metadata reads as every other consumer); each ADDED
FILE becomes one ``InputPartition`` read on executors with PURE pyarrow
(no SparkSession exists there — the reason the partition reader cannot
delegate to the DataFrame-based ``diff()``), aligned to the logical
schema (missing columns NULL-filled, post-evolution extras dropped,
COLUMN MAPPING applied physical→logical from the partition's carried
map). That makes the source distributed at any scale: a 10k-file
backfill interval is 10k independent Arrow reads. A snapshot read
packs consecutive small live files into one partition (``_PACK_BYTES``).
"""

from __future__ import annotations

import json
import os
from pathlib import Path

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from database_anonymiser_spark.sources.versioned import (
    ROW_PRESERVING_OPS,
    _DATA_DIR,
    _file_entry,
    _key_first,
    _key_tuple,
    _SkipSpec,
    _list_versions,
    _log_path,
    _replay,
    _store_casts,
)


class _EmptyPartition(InputPartition):
    """The zero-row partition: Spark 4.1's worker type-checks every
    element of partitions() against InputPartition, so an empty file
    set must return THIS, never [None] (round 12 — surfaced by an
    empty change-feed range)."""

    def __init__(self):
        super().__init__(0)


#: a snapshot read packs consecutive live files into one partition (one
#: Python task) up to this many bytes; a larger file reads alone. A task
#: costs about what pyarrow takes to read a few MB, so the small files
#: that DV updates and merges add between compactions share a task
#: instead of paying one each (Spark's own file scans weigh a file open
#: at the same 4 MB, ``spark.sql.files.openCostInBytes``).
_PACK_BYTES = 4 << 20


class _FilesPartition(InputPartition):
    """Consecutive live files of a snapshot read, read by one task."""

    def __init__(self, files: list):
        self.files = files


class _FilePartition(InputPartition):
    def __init__(self, path: str, arrow_schema_physical, logical_names: list,
                 dv_path: str | None = None, scan_filters: list | None = None):
        self.path = path
        #: the logical schema rendered in PHYSICAL field names as a
        #: pyarrow schema (pickled to the executor) — pyarrow.dataset
        #: projects against it, NULL-filling columns a pre-evolution
        #: file lacks and dropping post-evolution extras, with the
        #: right types
        self.arrow_schema_physical = arrow_schema_physical
        self.logical_names = logical_names
        #: absolute path of the file's deletion-vector sidecar (or None)
        #: — the EXECUTOR loads it (sidecars live next to the data on
        #: shared storage; only the pointer rides the pickled partition)
        self.dv_path = dv_path
        #: pushed predicates as (PHYSICAL col, kind, payload) triples,
        #: evaluated inside the pyarrow scan (parquet row-group stats
        #: pruning + row filtering BEFORE the Arrow hand-off). Superset
        #: semantics are fine — Spark re-evaluates every filter row-
        #: exactly; any conjunct pyarrow cannot apply is just dropped.
        self.scan_filters = scan_filters


def _scan_expr(filters, schema):
    """pyarrow.compute expression for the pushed (physical col, kind,
    payload) triples, or None. Conservative: a conjunct referencing a
    column the file's logical view lacks, or one pyarrow cannot build,
    is dropped (the scan then over-returns; Spark's re-evaluation makes
    it exact)."""
    import pyarrow.compute as pc

    expr = None
    names = set(schema.names)
    for pcol, kind, payload in filters or ():
        if pcol not in names:
            continue
        try:
            f = pc.field(pcol)
            if kind == "range":
                lo, hi = payload
                e = None
                if lo is not None:
                    e = f >= lo
                if hi is not None:
                    e = (f <= hi) if e is None else e & (f <= hi)
                if e is None:
                    continue
            elif kind == "nullness":
                e = f.is_null() if payload == "isnull" else ~f.is_null()
            else:
                e = f.isin(list(payload))
        except Exception:
            continue
        expr = e if expr is None else expr & e
    return expr


def _read_file_aligned(part: _FilePartition):
    """One parquet file of a partition, read with pure pyarrow and
    aligned to the logical schema: dataset-projection against the
    physical rendering (typed NULL-fill for pre-evolution files,
    post-evolution extras dropped), then one rename physical→logical.
    Files carrying a deletion vector drop their dead positions with a
    boolean mask before anything leaves the executor (positions are
    file row indices — ``to_table()`` preserves file order, so mask
    index i is file row i). Yields Arrow RecordBatches (the zero-copy
    path into Spark)."""
    import pyarrow as pa
    import pyarrow.dataset as ds

    dataset = ds.dataset(part.path, schema=part.arrow_schema_physical)
    expr = _scan_expr(getattr(part, "scan_filters", None),
                      part.arrow_schema_physical)
    if expr is not None and not part.dv_path:
        # no DV: filter inside the scan — parquet row-group stats prune
        # whole groups, surviving rows filter before the Arrow hand-off
        try:
            tbl = dataset.to_table(filter=expr)
        except Exception:
            tbl = dataset.to_table()  # type mismatch etc.: over-return
    else:
        tbl = dataset.to_table()
    if part.dv_path:
        import numpy as np

        dead = np.asarray(
            json.loads(Path(part.dv_path).read_text())["indices"], dtype=np.int64
        )
        mask = np.ones(tbl.num_rows, dtype=bool)
        mask[dead[dead < tbl.num_rows]] = False
        tbl = tbl.filter(pa.array(mask))
        if expr is not None:
            # DV masks are POSITIONAL — filter only after the mask
            try:
                tbl = tbl.filter(expr)
            except Exception:
                pass
    tbl = tbl.rename_columns(part.logical_names)
    for batch in tbl.to_batches(max_chunksize=65536):
        yield batch


def _snapshot_state(root: str, version: int | None = None):
    """(live entries, logical schema json, colmap, key_col) at ``version``
    (default: latest) — pure file I/O (usable from the driver-side
    planner without a SparkSession)."""
    p = Path(root)
    versions = _list_versions(p)
    if not versions:
        raise FileNotFoundError(f"no versioned table at {root}")
    if version is None:
        version = versions[-1]
    elif version not in versions:
        raise ValueError(
            f"version {version} does not exist at {root} "
            f"(have {versions[0]}..{versions[-1]})"
        )
    live, key, _cons, schema, _stats, colmap, _props = _replay(p, version)
    if schema is None:
        raise ValueError(
            "versioned DataSource requires a logged schema (legacy table)"
        )
    return live, schema, colmap, key


def _arrow_physical(schema_json: dict, colmap: dict):
    """(physical-named pyarrow schema, logical name list) for the logged
    logical schema — built driver-side (needs pyspark's type bridge),
    pickled into every partition."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    logical = StructType.fromJson(schema_json)
    arrow = to_arrow_schema(logical)
    m = dict((colmap or {}).get("map") or {})
    names = [f.name for f in logical.fields]
    phys = pa.schema(
        [arrow.field(i).with_name(m.get(names[i], names[i]))
         for i in range(len(names))]
    )
    return phys, names


class _SnapshotReader(DataSourceReader):
    def __init__(self, root: str, version: int | None = None):
        self.root = root
        #: versionAsOf / timestampAsOf pin (None = latest) — Delta's
        #: batch time-travel options, resolved by the DataSource
        self.version = version
        #: (logical col, kind, payload) terms recorded by pushFilters —
        #: the versioned ``_SkipSpec`` vocabulary, plain picklable tuples.
        #: Always empty on this base class (no pushFilters): Spark's
        #: worker HARD-FAILS any source defining pushFilters while
        #: ``spark.sql.python.filterPushdown.enabled`` is false (its
        #: default), so pushdown lives on the opt-in subclass below.
        self.pushed: list = []

    def partitions(self):
        live, schema, colmap, key_col = _snapshot_state(self.root, self.version)
        phys, names = _arrow_physical(schema, colmap)
        m = dict((colmap or {}).get("map") or {})
        root = Path(self.root)
        skip = _SkipSpec(self.pushed, root, key_col, colmap)
        # the surviving files' scans also evaluate the predicates
        # (physical-named) — row-group pruning + pre-hand-off filtering
        scanf = [
            (m.get(c, c), kind, payload) for c, kind, payload in self.pushed
        ] or None
        out, size = [], 0
        for e in live.values():
            if not skip.admits(e):
                continue
            path = e["path"]
            if not os.path.isabs(path):
                path = str(root / path)
            dv = e.get("dv")
            if dv and not os.path.isabs(dv):
                dv = str(root / dv)
            b = e.get("size") or _PACK_BYTES
            if not out or size + b > _PACK_BYTES:
                out.append(_FilesPartition([]))
                size = 0
            out[-1].files.append(
                _FilePartition(path, phys, names, dv_path=dv, scan_filters=scanf)
            )
            size += b
        return out or [_EmptyPartition()]

    def read(self, partition):
        if partition is None or isinstance(partition, _EmptyPartition):
            return iter(())
        return (b for f in partition.files for b in _read_file_aligned(f))


class _PushdownSnapshotReader(_SnapshotReader):
    """The snapshot reader with FILE-SKIPPING FILTER PUSHDOWN (Spark 4.1
    Python DataSource API) — selected by ``option("pushdown", "true")``
    and requiring ``spark.sql.python.filterPushdown.enabled=true`` (the
    worker refuses a pushFilters-defining source without it, which is
    why pushdown is an opt-in subclass rather than the default).

    Equality / range / IN / IS [NOT] NULL filters on top-level columns
    become spec terms, and ``partitions()`` keeps the files the
    versioned ``_SkipSpec`` admits — the one file test the native
    ``files_matching`` read path and every write's scoping use. ALL filters are returned to Spark
    for row-level re-evaluation: the pushdown only shrinks the FILE
    set (stats/bloom can prove a file empty for a predicate, never
    evaluate it row-exactly), exactly like parquet row-group stats."""

    def pushFilters(self, filters):
        for f in filters:
            col = getattr(f, "attribute", None)
            if not (isinstance(col, tuple) and len(col) == 1):
                continue  # nested / non-column reference: no pruning
            c = col[0]
            if isinstance(f, EqualTo) and not isinstance(f.value, (list, bool)):
                self.pushed.append((c, "points", [f.value]))
            elif isinstance(f, In):
                vals = [v for v in f.value if v is not None]
                if vals and not any(isinstance(v, (list, bool)) for v in vals):
                    self.pushed.append((c, "points", vals))
            elif isinstance(f, (GreaterThan, GreaterThanOrEqual)):
                self.pushed.append((c, "range", (f.value, None)))
            elif isinstance(f, (LessThan, LessThanOrEqual)):
                self.pushed.append((c, "range", (None, f.value)))
            elif isinstance(f, IsNull):
                self.pushed.append((c, "nullness", "isnull"))
            elif isinstance(f, IsNotNull):
                # Spark derives IsNotNull from every comparison filter,
                # so all-NULL files prune on ordinary scans (round 12 —
                # per-file null_count stats)
                self.pushed.append((c, "nullness", "notnull"))
        return filters


#: CDF metadata columns appended after the data columns (Delta CDF's
#: exact layout: _change_type, _commit_version, _commit_timestamp).
_CDF_COLS = ("_change_type", "_commit_version", "_commit_timestamp")


def _cdf_tag(tbl, ctype: str, version: int, ts: str | None):
    """Append the three CDF metadata columns (constant per commit) to an
    Arrow table whose columns are already the logical data columns."""
    import datetime as _dt

    import pyarrow as pa

    n = tbl.num_rows
    when = _dt.datetime.fromisoformat(ts) if ts else None
    return (
        tbl.append_column(_CDF_COLS[0], pa.array([ctype] * n, pa.string()))
        .append_column(_CDF_COLS[1], pa.array([version] * n, pa.int64()))
        .append_column(
            _CDF_COLS[2], pa.array([when] * n, pa.timestamp("us", tz="UTC"))
        )
    )


class _CdfInsertPartition(InputPartition):
    """One appended file of a pure-append commit → `insert` change rows.
    Fully parallel (one task per file), no join — the overwhelmingly
    common shape of a streamed table's history."""

    def __init__(self, file_part: _FilePartition, version: int, ts: str | None):
        self.file_part = file_part
        self.version = version
        self.ts = ts


class _CdfDiffPartition(InputPartition):
    """One KEY-DISJOINT file group of a CHANGE commit (merge/update/
    delete/DV/restore) → its row-level change events, derived
    executor-side by the same (path, dv) file-identity diff as
    ``VersionedTable.diff`` but in pure pyarrow (no SparkSession exists
    in the DataSource worker). A commit splits into one partition per
    key-disjoint range cluster of its removed∪added files
    (``_key_disjoint_groups``) — scattered-band rewrites diff in
    parallel, and each partition's data is bounded by its band; a
    commit whose files all overlap stays one partition, bounded by the
    writer's batch scope (the same O(changed data) argument diff()
    makes). Backfill append volume stays fully file-parallel via
    ``_CdfInsertPartition``. Delta avoids this read-side join by
    persisting ``_change_data`` files at commit time; deriving keeps
    the write path lean and the feed exact."""

    def __init__(self, removed, added, arrow_schema_physical, logical_names,
                 key_col, version, ts):
        #: (abs data path, abs dv sidecar path | None) pairs
        self.removed = removed
        self.added = added
        self.arrow_schema_physical = arrow_schema_physical
        self.logical_names = logical_names
        self.key_col = key_col
        self.version = version
        self.ts = ts


def _read_side(pairs, phys, names):
    """Concatenate (path, dv) file reads into one logical-named table."""
    import pyarrow as pa

    tables = [
        pa.Table.from_batches(
            _read_file_aligned(_FilePartition(p, phys, names, dv_path=dv)),
            schema=pa.schema(
                [phys.field(i).with_name(names[i]) for i in range(len(names))]
            ),
        )
        for p, dv in pairs
    ]
    if not tables:
        return pa.schema(
            [phys.field(i).with_name(names[i]) for i in range(len(names))]
        ).empty_table()
    return pa.concat_tables(tables)


def _null_safe_eq(a, b, n: int):
    """Per-row null-safe equality of two aligned Arrow columns as a numpy
    bool array. Flat types use the native ``equal`` kernel; NESTED types
    (lists, structs — no Arrow equality kernel as of pyarrow 16) recurse
    structurally, staying vectorized (round 11 — was a Python row loop):
    structs AND their fields' equality; lists compare lengths, then
    flatten the equal-length candidates once and map element mismatches
    back to rows with one ``np.repeat``/``np.unique`` pass. Cost is
    O(elements) numpy work per nesting level, never per-row Python."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    if isinstance(a, pa.ChunkedArray):
        a = a.combine_chunks()
    if isinstance(b, pa.ChunkedArray):
        b = b.combine_chunks()
    try:
        eq = pc.or_(
            pc.fill_null(pc.equal(a, b), False),
            pc.and_(pc.is_null(a), pc.is_null(b)),
        )
        return eq.to_numpy(zero_copy_only=False).astype(bool)
    except pa.lib.ArrowNotImplementedError:
        pass
    except Exception:
        return _null_safe_eq_py(a, b, n)
    null_a = pc.is_null(a).to_numpy(zero_copy_only=False).astype(bool)
    null_b = pc.is_null(b).to_numpy(zero_copy_only=False).astype(bool)
    out = null_a & null_b  # both NULL -> equal (null-safe)
    both = ~null_a & ~null_b
    t = a.type
    if pa.types.is_struct(t):
        ok = both.copy()
        for i in range(t.num_fields):
            if not ok.any():
                break
            ok &= _null_safe_eq(a.field(i), b.field(i), n)
        out |= ok
        return out
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        la = pc.fill_null(pc.list_value_length(a), -1).to_numpy(
            zero_copy_only=False
        )
        lb = pc.fill_null(pc.list_value_length(b), -2).to_numpy(
            zero_copy_only=False
        )
        idx = np.flatnonzero(both & (la == lb))
        if idx.size:
            sa = a.take(pa.array(idx))
            sb = b.take(pa.array(idx))
            fa = pc.list_flatten(sa)
            fb = pc.list_flatten(sb)
            ok = np.ones(idx.size, dtype=bool)
            if len(fa):
                lens = (
                    pc.list_value_length(sa)
                    .to_numpy(zero_copy_only=False)
                    .astype(np.int64)
                )
                elem_eq = _null_safe_eq(fa, fb, len(fa))
                row_of = np.repeat(np.arange(idx.size), lens)
                ok[np.unique(row_of[~elem_eq])] = False
            out[idx[ok]] = True
        return out
    if pa.types.is_map(t):
        # maps decompose into key-sorted list<struct<key,value>> and
        # reuse the list path above (round 12 — was the Python-object
        # fallback): entry ORDER is not map identity, so each list is
        # canonicalized by one global (row, key) Arrow sort — O(E log E)
        # kernel work, no per-row Python. Degenerate duplicate keys
        # (Spark disallows them on write) compare conservatively: a
        # spurious not-equal only over-reports an update event.
        return _null_safe_eq(_map_canon(a), _map_canon(b), n)
    return _null_safe_eq_py(a, b, n)


def _map_canon(arr):
    """Map column canonicalized to a key-sorted ``list<struct<key,
    value>>`` (vectorized: cast + flatten + one Arrow table sort +
    rebuild on the original offsets/validity)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    t = arr.type
    lv = arr.cast(
        pa.list_(
            pa.struct(
                [pa.field("key", t.key_type), pa.field("value", t.item_type)]
            )
        )
    )
    lens = (
        pc.fill_null(pc.list_value_length(lv), 0)
        .to_numpy(zero_copy_only=False)
        .astype(np.int64)
    )
    flat = pc.list_flatten(lv)
    offs = np.concatenate(([0], np.cumsum(lens))).astype("int32")
    mask = pc.is_null(lv).to_numpy(zero_copy_only=False).astype(bool)
    if len(flat):
        row_of = np.repeat(np.arange(len(lv), dtype=np.int64), lens)
        idx = pc.sort_indices(
            pa.table({"r": pa.array(row_of), "k": flat.field(0)}),
            sort_keys=[("r", "ascending"), ("k", "ascending")],
        )
        flat = flat.take(idx)
    return pa.ListArray.from_arrays(pa.array(offs), flat, mask=pa.array(mask))


def _null_safe_eq_py(a, b, n: int):
    """Last-resort python-object comparison (types with neither a kernel
    nor a structural decomposition — exotica only; maps decompose via
    ``_map_canon`` since round 12)."""
    import numpy as np

    return np.fromiter(
        (x == y for x, y in zip(a.to_pylist(), b.to_pylist())),
        dtype=bool, count=n,
    )


def _diff_commit(part: _CdfDiffPartition):
    """Row-level change events of one commit, Delta-CDF-faithful
    (images='both'): insert / delete / update_preimage+update_postimage;
    byte-identical carried rows excluded. Key uniqueness per version is
    the table invariant (MERGE maintains it), same as diff().

    NULL-key semantics mirror the native ``diff()`` exactly (round 12 —
    the same arity-consistency rule: an any-NULL key has no SQL-equality
    identity, and ``index_in``'s nulls-MATCH-nulls would silently give
    it one): any-NULL-key rows route around the key alignment, identity
    falls back to full-row CONTENT (multiset cancel — carried-unchanged
    rows emit nothing, changed rows classify delete+insert). The cancel
    is an object-path over ONLY the any-NULL subset — empty on any
    properly keyed table, and provably empty whenever the files record
    zero key nulls."""
    import numpy as np
    import pyarrow.compute as pc

    old = _read_side(part.removed, part.arrow_schema_physical, part.logical_names)
    new = _read_side(part.added, part.arrow_schema_physical, part.logical_names)
    kt = _key_tuple(part.key_col)

    def _null_key_mask(tbl):
        m = None
        for c in kt:
            nm = pc.is_null(tbl[c]).to_numpy(zero_copy_only=False).astype(bool)
            m = nm if m is None else (m | nm)
        return m

    null_parts = []
    if old.num_rows or new.num_rows:
        om = _null_key_mask(old) if old.num_rows else np.empty(0, dtype=bool)
        nm = _null_key_mask(new) if new.num_rows else np.empty(0, dtype=bool)
        if om.any() or nm.any():
            from collections import Counter

            old_n = old.take(np.flatnonzero(om)) if om.any() else old.slice(0, 0)
            new_n = new.take(np.flatnonzero(nm)) if nm.any() else new.slice(0, 0)
            old = old.take(np.flatnonzero(~om)) if om.any() else old
            new = new.take(np.flatnonzero(~nm)) if nm.any() else new

            def _render(rows):
                # deterministic content rendering (schema order is
                # fixed); map entry order renders as-is — a re-ordered
                # equal map classifies delete+insert, the documented
                # conservative direction, same caveat as _map_canon
                return [repr(list(r.items())) for r in rows]

            o_rows = _render(old_n.to_pylist())
            n_rows = _render(new_n.to_pylist())
            co, cn = Counter(o_rows), Counter(n_rows)

            def _residue(keys, other):
                used: Counter = Counter()
                out = []
                for i, k in enumerate(keys):
                    if used[k] < other.get(k, 0):
                        used[k] += 1  # cancelled: carried unchanged
                    else:
                        out.append(i)
                return out

            d_idx = _residue(o_rows, cn)
            i_idx = _residue(n_rows, co)
            if d_idx:
                null_parts.append((old_n.take(d_idx), "delete"))
            if i_idx:
                null_parts.append((new_n.take(i_idx), "insert"))

    def _key_arr(tbl):
        # composite key (round 11): align on the key TUPLE as a struct
        # array — index_in supports struct equality on current pyarrow;
        # a pandas MultiIndex get_indexer covers older builds (both
        # vectorized, no Python row loop)
        if len(kt) == 1:
            return tbl[kt[0]].combine_chunks()
        import pyarrow as pa

        return pa.StructArray.from_arrays(
            [tbl[c].combine_chunks() for c in kt], names=list(kt)
        )

    # pyarrow-native key alignment (round 10 — was a Python dict + loop):
    # index_in gives, per new key, its position among the old keys (null
    # = absent = insert; nulls MATCH nulls, same as the dict the loop
    # built). Old keys are unique per version (the MERGE invariant), so
    # first-match IS the match. Everything stays vectorized end-to-end.
    if old.num_rows and new.num_rows:
        import pyarrow as pa

        try:
            pos = pc.index_in(_key_arr(new), value_set=_key_arr(old))
        except Exception:
            # older pyarrow without struct index_in: MultiIndex indexer
            import pandas as pd

            oi = pd.MultiIndex.from_arrays(
                [old[c].to_pandas() for c in kt]
            )
            ni = pd.MultiIndex.from_arrays(
                [new[c].to_pandas() for c in kt]
            )
            raw = oi.get_indexer(ni)
            pos = pa.array(
                [None if i < 0 else int(i) for i in raw], type=pa.int64()
            )
        valid = pc.is_valid(pos).to_numpy(zero_copy_only=False).astype(bool)
        pos_np = pc.fill_null(pos, 0).to_numpy(zero_copy_only=False)
        com_new = np.flatnonzero(valid)
        com_old = pos_np[com_new].astype(np.int64)
        ins = np.flatnonzero(~valid)
        del_mask = np.ones(old.num_rows, dtype=bool)
        del_mask[com_old] = False
        dels = np.flatnonzero(del_mask)
    else:
        com_old = com_new = np.empty(0, dtype=np.int64)
        ins = np.arange(new.num_rows, dtype=np.int64)
        dels = np.arange(old.num_rows, dtype=np.int64)
    parts = list(null_parts)
    if len(ins):
        parts.append((new.take(ins), "insert"))
    if len(dels):
        parts.append((old.take(dels), "delete"))
    if len(com_old):
        o_al, n_al = old.take(com_old), new.take(com_new)
        changed = np.zeros(len(com_old), dtype=bool)
        for c in part.logical_names:
            if c in kt:
                continue  # join key: equal by construction
            changed |= ~_null_safe_eq(o_al[c], n_al[c], len(com_old))
        if changed.any():
            idx = np.flatnonzero(changed)
            parts.append((o_al.take(idx), "update_preimage"))
            parts.append((n_al.take(idx), "update_postimage"))
    for tbl, ctype in parts:
        for batch in _cdf_tag(tbl, ctype, part.version, part.ts).to_batches(
            max_chunksize=65536
        ):
            yield batch


def _key_disjoint_groups(removed: list, added: list) -> list:
    """Partition a change commit's file entries into KEY-DISJOINT groups
    by their footer [key_min, key_max] stats (interval sweep): a key
    lives only in files whose range covers it, and all such files
    overlap pairwise at that key, so they land in one group — every
    key's old AND new rows stay in the same diff partition. A commit
    that rewrote scattered key bands therefore diffs as SEVERAL
    parallel partitions instead of one; any stat-less file collapses
    the commit to a single group (correctness over parallelism)."""
    items = [(e, 0) for e in removed] + [(e, 1) for e in added]
    if not items:
        return []
    if any(e.get("key_min") is None or e.get("key_max") is None for e, _ in items):
        return [(removed, added)]
    items.sort(key=lambda t: (t[0]["key_min"], t[0]["key_max"]))
    groups, cur = [], [items[0]]
    cur_max = items[0][0]["key_max"]
    for it in items[1:]:
        if it[0]["key_min"] <= cur_max:
            cur.append(it)
            cur_max = max(cur_max, it[0]["key_max"])
        else:
            groups.append(cur)
            cur, cur_max = [it], it[0]["key_max"]
    groups.append(cur)
    return [
        ([e for e, s in g if s == 0], [e for e, s in g if s == 1])
        for g in groups
    ]


def _plan_change_partitions(
    p: Path, a: int, b: int, phys, names, *, cdf: bool, skip_change: bool
) -> list:
    """Partitions delivering the commits in (a, b] — the SHARED planner
    of the streaming follow and the batch change-feed read. Housekeeping
    (row-preserving) commits contribute nothing; under ``cdf`` pure
    appends stay one-partition-per-file and change commits become one
    diff partition each; without ``cdf`` a change commit is skipped
    whole (``skip_change``) or refused (the Delta streaming-source
    contract)."""
    out: list = []
    for v in [x for x in _list_versions(p) if a < x <= b]:
        rec = json.loads(_log_path(p, v).read_text())
        op = rec.get("op")
        if op in ROW_PRESERVING_OPS:
            continue  # housekeeping: the row set did not change
        if rec.get("removes") and not cdf:
            if skip_change:
                continue
            raise RuntimeError(
                f"commit {v} ({op}) changes existing rows; a versioned "
                "table used as a stream source processes APPENDS — set "
                "skipChangeCommits=true to skip rewrite commits, or "
                "readChangeFeed=true to stream the row-level change "
                "feed (the Delta streaming-source contract)"
            )
        if cdf and rec.get("removes"):
            # change commit: one diff partition — old side resolved
            # from the PREVIOUS version's live set (the commit record
            # carries removed paths but not their prior DV state);
            # (path, dv) identity drops pairs a commit re-references
            # unchanged. Replays are checkpoint-bounded + memoized.
            prev_live, *_rest = _replay(p, v - 1)

            def _abs(entry):
                path = entry["path"]
                dv = entry.get("dv")
                return (
                    path if os.path.isabs(path) else str(p / path),
                    (dv if os.path.isabs(dv) else str(p / dv)) if dv else None,
                )

            adds = rec.get("adds", [])
            add_ids = {(e["path"], e.get("dv")) for e in adds}
            rem_entries = [
                prev_live[path]
                for path in rec["removes"]
                if path in prev_live
                and (path, prev_live[path].get("dv")) not in add_ids
            ]
            rem_ids = {
                (path, prev_live[path].get("dv"))
                for path in rec["removes"] if path in prev_live
            }
            add_entries = [
                e for e in adds if (e["path"], e.get("dv")) not in rem_ids
            ]
            key_col = _rest[0]
            # key-disjoint file groups diff in parallel — a commit that
            # rewrote scattered key bands is several partitions, not one
            for rem_g, add_g in _key_disjoint_groups(rem_entries, add_entries):
                out.append(_CdfDiffPartition(
                    [_abs(e) for e in rem_g], [_abs(e) for e in add_g],
                    phys, names, key_col, v, rec.get("ts"),
                ))
            continue
        for add in rec.get("adds", []):
            path = add["path"]
            if not os.path.isabs(path):
                path = str(p / path)
            # belt-and-braces: honor a DV ref on an added file (today
            # adds-with-dv always travel with removes → the diff branch,
            # but the planner must not silently resurrect masked rows)
            dv = add.get("dv")
            if dv and not os.path.isabs(dv):
                dv = str(p / dv)
            fp = _FilePartition(path, phys, names, dv_path=dv)
            out.append(
                _CdfInsertPartition(fp, v, rec.get("ts")) if cdf else fp
            )
    return out


def _read_change_partition(partition):
    """Executor-side dispatch shared by the streaming follow and the
    batch change-feed read."""
    if partition is None or isinstance(partition, _EmptyPartition):
        return iter(())
    if isinstance(partition, _CdfDiffPartition):
        return _diff_commit(partition)
    if isinstance(partition, _CdfInsertPartition):
        import pyarrow as pa

        fp = partition.file_part
        tbl = pa.Table.from_batches(
            _read_file_aligned(fp),
            schema=pa.schema(
                [fp.arrow_schema_physical.field(i).with_name(fp.logical_names[i])
                 for i in range(len(fp.logical_names))]
            ),
        )
        return iter(
            _cdf_tag(tbl, "insert", partition.version, partition.ts)
            .to_batches(max_chunksize=65536)
        )
    return _read_file_aligned(partition)


class _CdfBatchReader(DataSourceReader):
    """Delta's BATCH change-feed read: ``spark.read.format("versioned")
    .option("readChangeFeed", "true").option("startingVersion", s)
    [.option("endingVersion", e)]`` — the row-level change events of
    commits s..e INCLUSIVE (defaults: 0..latest), same event vocabulary
    and partitioning as the streaming CDF. ``startingVersion 0``
    includes the CREATE commit's rows as inserts. Timestamp axes mirror
    the streaming source: ``startingTimestamp`` delivers everything
    AFTER the as-of snapshot at that timestamp (the TIMESTAMP AS OF
    complement, so snapshot-bootstrap + batch-CDF composes gap-free),
    ``endingTimestamp`` ends at the as-of version. Files align to the
    HEAD schema (pre-evolution files typed-NULL-fill) — one logical
    view, the same one ``schema()`` declares."""

    def __init__(self, root: str, options: dict):
        self.root = root
        p = Path(root)
        versions = _list_versions(p)
        if not versions:
            raise FileNotFoundError(f"no versioned table at {root}")
        latest = versions[-1]
        from database_anonymiser_spark.sources.versioned import VersionedTable

        st = options.get("startingtimestamp")
        if st is not None:
            try:
                self.a = VersionedTable(None, root).version_at(st)
            except ValueError:
                self.a = -1
        else:
            self.a = int(options.get("startingversion", 0)) - 1
        et = options.get("endingtimestamp")
        if et is not None:
            self.b = VersionedTable(None, root).version_at(et)
        else:
            ev = options.get("endingversion")
            self.b = latest if ev is None else int(ev)
        if self.b > latest:
            raise ValueError(
                f"endingVersion {self.b} is beyond the head ({latest})"
            )
        if self.a > self.b:
            raise ValueError(
                f"startingVersion {self.a + 1} is beyond the ending "
                f"version {self.b}"
            )

    def partitions(self):
        _live, schema, colmap, _key = _snapshot_state(self.root)
        phys, names = _arrow_physical(schema, colmap)
        out = _plan_change_partitions(
            Path(self.root), self.a, self.b, phys, names,
            cdf=True, skip_change=False,
        )
        return out or [_EmptyPartition()]

    def read(self, partition):
        return _read_change_partition(partition)


class _ChangesStreamReader(DataSourceStreamReader):
    def __init__(self, root: str, options: dict):
        self.root = root
        self.skip_change = (
            str(options.get("skipchangecommits", "false")).lower() == "true"
        )
        #: readChangeFeed=true (Delta's streaming CDF): deliver every
        #: commit's row-level change events with _change_type /
        #: _commit_version / _commit_timestamp instead of append rows;
        #: change commits are diffed, not erred. skipChangeCommits is
        #: meaningless under CDF and ignored (Delta's reader likewise
        #: treats them as orthogonal options).
        self.cdf = str(options.get("readchangefeed", "false")).lower() == "true"
        mft = options.get("maxfilespertrigger")
        self.max_files = int(mft) if mft is not None else None
        #: maxBytesPerTrigger (round 12 — Delta's byte-based admission):
        #: file COUNTS are a poor proxy under compaction (one compacted
        #: file can be the whole backfill); bytes bound executor memory
        #: directly. Sizes come from the commit log's per-add ``size``
        #: (recorded at the write chokepoints); legacy adds without one
        #: cost one os.stat. Composes with maxFilesPerTrigger: a batch
        #: stops at whichever cap it would exceed first.
        mbt = options.get("maxbytespertrigger")
        self.max_bytes = int(mbt) if mbt is not None else None
        #: last offset version this reader planned up to — advanced by
        #: initialOffset and every partitions() call; lets latestOffset
        #: bound the NEXT batch under maxFilesPerTrigger. None right
        #: after a restart until Spark replans (the one batch planned
        #: before that is unbounded — the Python stream API exposes no
        #: admission-control start offset; documented caveat).
        self._cursor: int | None = None
        p = Path(root)
        versions = _list_versions(p)
        if not versions:
            raise FileNotFoundError(f"no versioned table at {root}")
        #: the stream's FIXED logical view (Delta's schema contract): the
        #: head schema+colmap at query start — what ``schema()`` told
        #: Spark. Every batch (including restarts replaying intervals
        #: that predate an evolution) aligns its files to THIS view
        #: (pre-evolution files typed-NULL-fill, dropped columns simply
        #: not requested). A commit that changes the logged schema or
        #: column mapping AFTER stream start fails the query with a
        #: restart instruction instead of shipping misaligned Arrow
        #: batches — on restart the new head schema becomes the view.
        self._head_at_start = versions[-1]
        _l, _k, _c, self._schema0, _s, self._colmap0, _p = _replay(
            p, self._head_at_start
        )
        st = options.get("startingtimestamp")
        sv = str(options.get("startingversion", "0"))
        if st is not None:
            # startingTimestamp (Delta's second starting axis), defined
            # as the COMPLEMENT of TIMESTAMP AS OF under the same
            # clamp-correct version_at resolution: the stream delivers
            # everything AFTER the as-of snapshot at that timestamp, so
            # bootstrap-snapshot + follow composes with no gap and no
            # overlap. A timestamp before the first commit streams the
            # full history.
            from database_anonymiser_spark.sources.versioned import (
                VersionedTable,
            )

            try:
                self.start_version = VersionedTable(None, root).version_at(st)
            except ValueError:
                self.start_version = -1
        elif sv == "latest":
            # start at the head: deliver only commits AFTER stream start
            self.start_version = versions[-1]
        else:
            # deliver (start_version-1, ...] i.e. include start_version
            self.start_version = max(int(sv) - 1, -1)

    def initialOffset(self):
        self._cursor = self.start_version
        return {"version": self.start_version}

    def latestOffset(self):
        versions = _list_versions(Path(self.root))
        head = versions[-1] if versions else self.start_version
        if (
            self.max_files is None and self.max_bytes is None
        ) or self._cursor is None:
            return {"version": head}
        # rate limit (Delta's maxFilesPerTrigger / maxBytesPerTrigger):
        # advance commit by commit from the cursor, stopping once the
        # batch would exceed EITHER cap — always admitting at least one
        # row-delivering commit so the stream can never stall (a single
        # file larger than maxBytes still flows, like Delta).
        # O(admitted commits) tiny-JSON reads; a 100k-commit backfill
        # becomes many bounded batches.
        p = Path(self.root)
        end, n_files, n_bytes = self._cursor, 0, 0
        for v in [x for x in versions if x > self._cursor]:
            rec = json.loads(_log_path(p, v).read_text())
            adds, bts = 0, 0
            if rec.get("op") not in ROW_PRESERVING_OPS and not (
                rec.get("removes") and self.skip_change and not self.cdf
            ):
                add_recs = rec.get("adds") or []
                adds = len(add_recs)
                if self.max_bytes is not None:
                    for a in add_recs:
                        sz = a.get("size")
                        if sz is None:
                            # legacy add without a recorded size: one stat
                            fp = a["path"]
                            if not os.path.isabs(fp):
                                fp = str(p / fp)
                            try:
                                sz = os.stat(fp).st_size
                            except OSError:
                                sz = 0
                        bts += int(sz)
            if n_files and (
                (self.max_files is not None and n_files + adds > self.max_files)
                or (self.max_bytes is not None and n_bytes + bts > self.max_bytes)
            ):
                break
            end, n_files, n_bytes = v, n_files + adds, n_bytes + bts
            if (self.max_files is not None and n_files >= self.max_files) or (
                self.max_bytes is not None and n_bytes >= self.max_bytes
            ):
                break
        return {"version": end}

    def partitions(self, start: dict, end: dict):
        a, b = int(start["version"]), int(end["version"])
        # the planned batch ends here — the next latestOffset bounds
        # its advance from this point (incl. the replayed batch after a
        # restart, which re-plans through this call)
        self._cursor = max(self._cursor if self._cursor is not None else -1, b)
        if b <= a:
            return [_EmptyPartition()]
        p = Path(self.root)
        # the batch's logical view is the STREAM-START schema (see
        # __init__); an interval-end schema that differs can only mean a
        # mid-stream evolution — fail with the restart contract
        _live, _key, _cons, schema, _stats, colmap, _props = _replay(p, b)
        if schema is None:
            raise ValueError("streaming a legacy table without a logged schema")
        if b > self._head_at_start and (
            schema != self._schema0 or colmap != self._colmap0
        ):
            raise RuntimeError(
                f"the table's schema changed by version {b} while this "
                "stream was running; RESTART the streaming query to pick "
                "up the new schema (files written before the change are "
                "read under it with typed NULL-fill — the Delta "
                "schema-evolution contract)"
            )
        phys, names = _arrow_physical(self._schema0, self._colmap0)
        out = _plan_change_partitions(
            p, a, b, phys, names, cdf=self.cdf, skip_change=self.skip_change
        )
        return out or [_EmptyPartition()]

    def read(self, partition):
        return _read_change_partition(partition)

    def commit(self, end):
        pass  # offsets live in Spark's streaming checkpoint


class VersionedDataSource(DataSource):
    """``spark.dataSource.register(VersionedDataSource)`` →
    ``format("versioned")`` for both batch snapshots and streaming
    follows of a versioned table (module docstring for semantics)."""

    @classmethod
    def name(cls):
        return "versioned"

    def schema(self):
        cdf = str(self.options.get("readchangefeed", "false")).lower() == "true"
        _live, schema, _colmap, _key = _snapshot_state(
            self._path(), None if cdf else self._pinned_version()
        )
        st = StructType.fromJson(schema)
        if cdf:
            from pyspark.sql.types import LongType, StringType, TimestampType

            st = (
                st.add(_CDF_COLS[0], StringType())
                .add(_CDF_COLS[1], LongType())
                .add(_CDF_COLS[2], TimestampType())
            )
        return st

    def _pinned_version(self) -> int | None:
        """versionAsOf / timestampAsOf (Delta's batch time-travel
        options) resolved to a version pin, or None for the head."""
        v = self.options.get("versionasof")
        ts = self.options.get("timestampasof")
        if v is not None and ts is not None:
            raise ValueError("set versionAsOf OR timestampAsOf, not both")
        if v is not None:
            return int(v)
        if ts is not None:
            from database_anonymiser_spark.sources.versioned import (
                VersionedTable,
            )

            return VersionedTable(None, self._path()).version_at(ts)
        return None

    def _path(self) -> str:
        path = self.options.get("path")
        if not path:
            raise ValueError("option 'path' (table root) is required")
        # the SQL face (CREATE TABLE ... USING versioned) hands the
        # OPTIONS path back as a normalized file: URI — strip the scheme
        # so the posix-path log reader resolves it (file:/x, file:///x)
        if path.startswith("file:"):
            from urllib.parse import urlparse

            path = urlparse(path).path
        return path

    def reader(self, schema):
        if str(self.options.get("readchangefeed", "false")).lower() == "true":
            return _CdfBatchReader(self._path(), dict(self.options))
        version = self._pinned_version()
        if str(self.options.get("pushdown", "false")).lower() == "true":
            return _PushdownSnapshotReader(self._path(), version)
        return _SnapshotReader(self._path(), version)

    def streamReader(self, schema):
        return _ChangesStreamReader(self._path(), dict(self.options))

    def writer(self, schema, overwrite: bool):
        if overwrite:
            raise ValueError(
                "mode('overwrite') unsupported — versioned tables are "
                "append/merge-only through the DataSource writer"
            )
        key_col, stats_cols, colmap = _writer_state(self._path(), schema)
        return _VersionedBatchWriter(self._path(), key_col, stats_cols, colmap)

    def streamWriter(self, schema, overwrite: bool):
        key_col, stats_cols, colmap = _writer_state(self._path(), schema)
        return _VersionedStreamWriter(self._path(), key_col, stats_cols, colmap)


# --------------------------------------------------------------- writers


class _WriteMessage(WriterCommitMessage):
    def __init__(self, entries: list):
        #: the written files' _FileEntry records
        self.entries = entries


class _VersionedWriterBase:
    """Shared two-phase write: executors stream Arrow batches into
    parquet files under ``data/`` (invisible until referenced — phase 1,
    exactly the engine's native write protocol) and compute their footer
    stats / bloom sidecars with pure pyarrow; the DRIVER assembles the
    returned entries into one atomic log commit (phase 2). A failed task
    or query leaves only unreferenced files, which ``vacuum(None)``
    reclaims as crash orphans."""

    def __init__(self, root: str, key_col: str, stats_cols, colmap: dict):
        self.root = root
        self.key_col = key_col
        self.stats_cols = tuple(stats_cols or ())
        self.colmap = dict(colmap or {})

    # executor side
    def write(self, iterator):
        import uuid as _uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        batches = list(iterator)
        if not batches:
            return _WriteMessage([])
        m = dict(self.colmap.get("map") or {})
        if m:
            # logical → physical rename before any byte is written
            batches = [
                b.rename_columns([m.get(n, n) for n in b.schema.names])
                for b in batches
            ]
        root = Path(self.root)
        sub = root / _DATA_DIR / _uuid.uuid4().hex
        sub.mkdir(parents=True, exist_ok=True)
        fp = sub / f"part-{_uuid.uuid4().hex}.parquet"
        pq.write_table(pa.Table.from_batches(batches), str(fp))
        return _WriteMessage([_file_entry(
            root, fp, _key_first(self.key_col), self.stats_cols, m
        )])

    # driver side
    def _entries(self, messages):
        return [e for msg in messages for e in (msg.entries if msg else [])]

    def _commit_entries(self, entries, op: str, meta: dict | None = None):
        from database_anonymiser_spark.sources.versioned import (
            VersionConflict,
            _commit,
            _list_versions,
        )

        root = Path(self.root)
        for attempt in range(6):
            v = _list_versions(root)[-1] + 1
            try:
                _commit(root, v, entries, [], self.key_col, op=op, meta=meta)
                return v
            except VersionConflict:
                if attempt == 5:
                    raise

    def _abort(self, messages):
        root = Path(self.root)
        for e in self._entries(messages):
            (root / e.path).unlink(missing_ok=True)
            for p in (e.bloom or {}).values():
                (root / p).unlink(missing_ok=True)


class _VersionedBatchWriter(_VersionedWriterBase, DataSourceArrowWriter):
    def commit(self, messages):
        self._commit_entries(self._entries(messages), op="append")

    def abort(self, messages):
        self._abort(messages)


#: how many commits back the stream writer's replay check scans for the
#: newest committed stream_epoch — covers housekeeping commits (compact /
#: optimize / analyze / vacuum markers) that land between a sink commit
#: and a crash-replay of the same epoch. Bounded: the check is O(cap)
#: tiny-JSON reads, never O(versions).
_EPOCH_SCAN_CAP = 64


class _VersionedStreamWriter(_VersionedWriterBase, DataSourceStreamArrowWriter):
    def commit(self, messages, batchId: int):
        from database_anonymiser_spark.sources.versioned import (
            _list_versions,
            _log_path,
        )

        root = Path(self.root)
        # exactly-once under epoch replay (single-writer stream per
        # table): a re-delivered epoch whose id is already the newest
        # committed stream_epoch is SKIPPED; its files stay unreferenced
        # and vacuum(None) reclaims them as crash orphans. The scan walks
        # newest→oldest past any interleaved housekeeping commits and
        # stops at the first stream commit found (cap: _EPOCH_SCAN_CAP).
        for v in _list_versions(root)[::-1][:_EPOCH_SCAN_CAP]:
            rec = json.loads(_log_path(root, v).read_text())
            epoch = (rec.get("meta") or {}).get("stream_epoch")
            if epoch is None:
                continue
            if epoch == batchId:
                self._abort(messages)
                return
            break  # newest committed stream epoch differs — commit ours
        self._commit_entries(
            self._entries(messages),
            op="stream_append",
            meta={"stream_epoch": batchId},
        )

    def abort(self, messages, batchId: int):
        self._abort(messages)


def register_sql_views(spark, tables: dict) -> None:
    """The SQL face: register each versioned table as a temp view served
    by the DataSource, so plain ``spark.sql`` (joins, CTEs, windows —
    the whole surface) runs over it::

        register_sql_views(spark, {"docs": "/data/docs", "dims": "/data/dims"})
        spark.sql("SELECT ... FROM docs JOIN dims USING (k)")

    Views are PINNED SNAPSHOTS of each table's head at registration —
    repeatable reads for a whole SQL session by construction; re-call to
    advance to the current head. (Why not ``CREATE TABLE ... USING
    versioned``: Spark 4.1 passes a catalog table's scan an EMPTY
    options dict, so a Python DataSource behind a catalog table can
    never find its path — measured here, the reason this face is
    view-based.)"""
    spark.dataSource.register(VersionedDataSource)
    for name, root in tables.items():
        (
            spark.read.format("versioned")
            .option("path", str(root)).load()
            .createOrReplaceTempView(name)
        )


def _writer_state(root: str, write_schema):
    """Validate the incoming frame against the table and assemble the
    pickled writer config. Append-only, with the table's exact column
    names and types (the append/merge APIs evolve and cast); tables with
    CHECK constraints refuse (no executor-side SQL evaluator — use the
    foreachBatch merge sink)."""
    p = Path(root)
    versions = _list_versions(p)
    if not versions:
        raise FileNotFoundError(
            f"no versioned table at {root}: create it first "
            "(VersionedTable.create) — the DataSource writer appends"
        )
    _live, key_col, constraints, schema, stats_cols, colmap, _props = _replay(
        p, versions[-1]
    )
    gen_cols = sorted(
        k[len("generated."):]
        for k in (_props or {})
        if k.startswith("generated.")
    )
    if gen_cols:
        # decided + pinned (round 10): REFUSAL, like identity. The writer
        # appends frames verbatim with an exact column match, so it could
        # only accept user-supplied generated values — but it has no
        # executor-side SQL evaluator to validate value == expr (the
        # auto-constraint would refuse below anyway with a misleading
        # CHECK-constraints message). Compute-on-omit is append's job.
        raise ValueError(
            f"DataSource writes into a table with generated column(s) "
            f"{gen_cols} are not supported (no executor-side evaluator "
            "to compute or validate them) — use VersionedTable.append, "
            "which computes omitted generated columns"
        )
    if constraints:
        raise ValueError(
            "DataSource writes into a table with CHECK constraints are "
            "not supported (no executor-side validator) — use the "
            "foreachBatch merge sink"
        )
    if (_props or {}).get("identity.col"):
        # like generated columns above: this writer appends frames
        # verbatim and must not accept user-supplied ids
        raise ValueError(
            "DataSource writes into a table with an identity column are "
            "not supported (no executor-side allocation) — use "
            "VersionedTable.append, which allocates"
        )
    if schema is None:
        raise ValueError("DataSource writer requires a logged schema")
    logical = StructType.fromJson(schema)
    if [f.name for f in write_schema.fields] != [f.name for f in logical.fields]:
        raise ValueError(
            f"schema mismatch: writing {[f.name for f in write_schema.fields]} "
            f"into table {[f.name for f in logical.fields]} — the DataSource "
            "writer is append-only with an exact column match (evolve via "
            "VersionedTable.append(merge_schema=True))"
        )
    # the store-assignment rule refuses what it refuses; what it would
    # cast is refused too, because the Arrow batches are written as given
    casts = _store_casts(write_schema, logical)
    if casts:
        raise ValueError(
            f"column(s) {sorted(casts)} differ from the table's types and the "
            "DataSource writer writes types as given: cast the frame, or use "
            "VersionedTable.append, which conforms it"
        )
    return key_col, stats_cols, colmap
