"""Plan executor: per-table mask → dryrun count / apply staged write.

Rebuilds ``src/executor/executor.ts:87-147`` on Spark's immutable model:
- dryrun (C4): build the masked DataFrame and count the table's rows from its
  parquet footers — the affected row counts the reference gets from
  UPDATE-under-ROLLBACK, with zero writes. The mask rewrites every row, so
  the affected count is the table's row count.
- apply (C5): ALL tables are written to staging paths first; promotion
  (directory rename) happens only after every staging succeeded. Any table
  failure deletes every staging and promotes NOTHING — the all-or-nothing
  semantics of the reference's single wrapping transaction
  (``src/main.ts:102-111`` BEGIN…COMMIT, ROLLBACK on error). The promote
  phase itself is crash-atomic via a manifest: the full rename list is
  journaled to ``_promote_manifest.json`` before the first rename and
  removed after the last, so a driver crash mid-loop is rolled FORWARD on
  the next apply (every journaled rename is safe by construction — the
  manifest exists only once every staging succeeded). This matches the
  reference's single atomic ``COMMIT`` exposure, write-ahead-log style.

Cost:
- Every table goes through one driver-side prepare step: mask, type-safety
  downgrades, active-column count, footer row count. It launches no Spark
  job once the catalog has the table version's schema (the first read of a
  version pays one schema-inference job), so a dryrun is metadata only.
- An apply checks the row cap on the prepared counts, before any write, and
  masks each table once. Its only Spark jobs are the staged writes, one per
  rewritten table; rows, files and bytes of the staged output come from the
  written files' footers, not from a re-read.
- The mask is one narrow projection — no shuffle, no Python; executors stream
  parquet in and out. Cost is IO-bound and embarrassingly parallel.
- Tables are independent; ``parallelism`` prepares and writes them
  concurrently from a thread pool, which inherits the caller's Spark job
  group, so a 1000-executor cluster isn't serialized on one table's tail
  (the reference is strictly sequential, executor.ts:104-132).
- A write runs one task per input split that holds a row group, so a table
  stored as one parquet row group would be written by one task while the
  other cores idle. An apply therefore reads a table stored as one file with
  fewer row groups than its slice count ``n`` as ``n`` contiguous row-index
  slices, one task each, with no shuffle
  (:func:`~database_anonymiser_spark.operators.parallel.row_index_slices`):
  ``n`` is the smaller of the splits Spark plans for the file and the table's
  share of the apply's rows per core. The staged part files, read in name
  order, hold the rows in the input's order. Run serially on a 4-core host,
  the 600k-row, one-row-group ``lineitem`` took 1.50 s as one task, 1.36 s
  with a hash ``repartition(4, key)``, 1.95 s with a round-robin
  ``repartition(4)`` and 1.06 s as 3 slices. Each slice decodes the whole row
  group (``TableResult.slices`` reports the count). The dryrun never runs
  its plan, so it keeps the plain frame; the staged writes are submitted
  largest table first (Graham's longest-processing-time rule).
- Staged writes are file-size governed: ``max_records_per_file`` caps every
  output file (SURVEY.md §7) so a 100 TB apply neither emits multi-TB
  single files nor a small-file storm — Spark splits each task's output at
  the cap with no extra shuffle.
"""

from __future__ import annotations

import json
import logging
import os
import shutil
import time
import uuid
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from pathlib import Path

from database_anonymiser_spark.catalog import ParquetCatalog, footer_stats
from database_anonymiser_spark.operators.parallel import row_index_slices
from database_anonymiser_spark.planner import Plan, PlannedTable
from database_anonymiser_spark.safeguards import DEFAULT_ROW_CAP, enforce_row_cap
from database_anonymiser_spark.strategies import (
    masked_projection,
    normalize_columns_for_types,
)

log = logging.getLogger(__name__)

PROMOTE_MANIFEST = "_promote_manifest.json"

#: Default cap on records per staged output file (SURVEY.md §7). At ~100-200
#: bytes/row of masked TPC-H-ish data this lands files in the 100 MB–1 GB
#: band object stores and downstream scans like.
DEFAULT_MAX_RECORDS_PER_FILE = 5_000_000


@dataclass
class TableResult:
    table: str
    rows: int = 0
    skipped: bool = False
    error: str | None = None
    downgrades: list[dict] = field(default_factory=list)
    #: parquet files and bytes ``rows`` was counted from: the source table
    #: in a dryrun, the staged output in an apply
    files: int = 0
    bytes: int = 0
    #: wall time spent on this table: the prepare step, plus the write in
    #: an apply
    wall_s: float = 0.0
    #: write tasks the table was split into: above 1 when an apply reads it
    #: as row-index slices, each of which decodes the whole file
    slices: int = 1


@dataclass
class ExecutionResult:
    mode: str
    updated_by_table: dict[str, int] = field(default_factory=dict)
    tables: list[TableResult] = field(default_factory=list)
    rolled_back: bool = False  # apply only: a table failed → nothing promoted

    @property
    def total_rows(self) -> int:
        """≅ main.ts:80-83 — sum of per-table affected counts (A2)."""
        return sum(self.updated_by_table.values())

    @property
    def failed_tables(self) -> list["TableResult"]:
        return [tr for tr in self.tables if tr.error is not None]


def mask_table(catalog: ParquetCatalog, planned: PlannedTable, df=None):
    """Read + type-safety normalize + projection for one table.

    Returns (masked_df, active_rewrites, downgrades). Mirrors the per-table
    body of executor.ts:104-132: live schema re-read (:108), normalize
    (:109-116), compile (:118). ``df`` is the frame to mask, by default the
    table as the catalog reads it.
    """
    df = catalog.read(planned.name) if df is None else df
    normalized = normalize_columns_for_types(list(planned.columns), df.schema)
    masked, active = masked_projection(df, normalized)
    downgrades = [
        {"column": nc.column, "from": nc.downgraded_from, "reason": nc.reason}
        for nc in normalized
        if nc.downgraded_from
    ]
    return masked, active, downgrades


def _fail(res: TableResult, e: Exception) -> None:
    """Per-table failure isolation: reported, not swallowed."""
    log.exception("table %s failed", res.table)
    res.error = f"{type(e).__name__}: {e}"


def _count_from_footers(res: TableResult, stats) -> None:
    res.rows, res.files, res.bytes = stats.rows, stats.files, stats.bytes


def _prepare_table(catalog: ParquetCatalog, planned: PlannedTable,
                   apply_rows: int | None = None):
    """One table's driver-side bookkeeping: mask, downgrades, active-column
    count, footer row count. Launches no Spark job once the catalog holds
    the table's schema. Given ``apply_rows`` (an apply's total), the table
    is masked as row-index slices where the slice rule fires. Returns
    ``(result, masked)``; ``masked`` is None when the table is skipped or
    failed."""
    res = TableResult(table=planned.table)
    t0 = time.perf_counter()
    try:
        df = catalog.read(planned.name)
        stats = footer_stats(catalog.table_path(planned.name))
        slices = 1
        if apply_rows is not None:
            df, slices = row_index_slices(df, stats, apply_rows)
        masked, active, res.downgrades = mask_table(catalog, planned, df)
        if active == 0:
            # zero effective SETs → skip (query-builder.ts:54-56, executor.ts:120-124)
            res.skipped = True
            return res, None
        _count_from_footers(res, stats)
        res.slices = slices
        return res, masked
    except Exception as e:
        _fail(res, e)
        return res, None
    finally:
        res.wall_s = time.perf_counter() - t0


def _map(spark, fn, items: list, parallelism: int) -> list:
    """``fn`` over ``items`` in order; on a thread pool when ``parallelism``
    and the item count allow. Pool threads inherit the caller's Spark local
    properties, so their jobs land in the caller's job group."""
    if parallelism <= 1 or len(items) <= 1:
        return [fn(x) for x in items]
    from pyspark.util import inheritable_thread_target

    task = inheritable_thread_target(spark)(fn)
    with ThreadPoolExecutor(max_workers=parallelism) as pool:
        return list(pool.map(task, items))


def _stage_table(
    out_root: Path,
    planned: PlannedTable,
    res: TableResult,
    masked,
    max_records_per_file: int,
) -> Path | None:
    """Write one prepared table to a staging path — the apply's one Spark
    job for it. NEVER promotes: returns the staging path (None on failure,
    with the partial staging removed) so the caller promotes
    all-or-nothing. Rows, files and bytes come from the staged footers."""
    staging = out_root / f"_staging_{planned.name}_{uuid.uuid4().hex[:8]}"
    t0 = time.perf_counter()
    try:
        # File-size governance (SURVEY.md §7): cap records per output file so
        # apply output is neither giant files nor a small-file storm.
        masked.write.option("maxRecordsPerFile", max_records_per_file).mode(
            "overwrite"
        ).parquet(str(staging))
        _count_from_footers(res, footer_stats(staging))
        return staging
    except Exception as e:
        _fail(res, e)
        shutil.rmtree(staging, ignore_errors=True)
        return None
    finally:
        res.wall_s += time.perf_counter() - t0


def _counted(result: ExecutionResult) -> dict[str, int]:
    """Rows per rewritten table: the row-cap input and ``updated_by_table``."""
    return {tr.table: tr.rows for tr in result.tables if not tr.skipped and tr.error is None}


def _footer_rows(catalog: ParquetCatalog, tables: list[PlannedTable]) -> int:
    """Rows of the planned tables, from their footers. A table whose
    footers cannot be read adds nothing: its prepare reports it."""
    rows = 0
    for t in tables:
        try:
            rows += footer_stats(catalog.table_path(t.name)).rows
        except (OSError, ValueError):
            pass
    return rows


def _prepare_plan(catalog, plan, dryrun, row_cap, force, parallelism, sliced=False):
    """Prepare every table. A dryrun's result is complete here. For an
    apply the row cap is enforced here, before any write, and a table that
    failed to prepare rolls the apply back before anything is written
    (all-or-nothing, main.ts:102-111 ROLLBACK). ``sliced`` masks each
    table whose slice rule fires as row-index slices, sized by the rows
    of every planned table."""
    result = ExecutionResult(mode="dryrun" if dryrun else "apply")
    tables = list(plan.tables)
    apply_rows = _footer_rows(catalog, tables) if sliced else None
    prepared = _map(
        catalog.spark, lambda t: _prepare_table(catalog, t, apply_rows), tables, parallelism
    )
    result.tables = [tr for tr, _ in prepared]
    if dryrun:
        result.updated_by_table = _counted(result)
    else:
        enforce_row_cap(sum(_counted(result).values()), cap=row_cap, force=force)
        result.rolled_back = bool(result.failed_tables)
    return result, prepared


def recover_pending_promote(output_root: Path) -> list[str]:
    """Roll FORWARD a promote interrupted by a driver crash.

    The manifest is journaled only after every table's staging write
    succeeded, so each recorded rename is unconditionally safe to finish:
    if the staging directory still exists the crash hit before its rename
    (promote it now); if it's gone the rename already happened. Called at
    the start of every apply; returns the tables rolled forward. The
    reference gets this from Postgres' atomic COMMIT (main.ts:111); this is
    the filesystem-rename equivalent, write-ahead-log style.
    """
    manifest = output_root / PROMOTE_MANIFEST
    if not manifest.exists():
        return []
    try:
        entries = json.loads(manifest.read_text())
    except ValueError:
        # A torn manifest can only mean the crash hit during the journal
        # write itself — which happens strictly BEFORE the first rename, so
        # nothing was promoted and discarding the journal is safe. (The
        # write is temp-file + atomic os.replace, so this is belt-and-
        # braces for non-atomic filesystems.)
        log.warning("discarding unparseable promote manifest (crash during journal write)")
        manifest.unlink()
        return []
    recovered = []
    for entry in entries:
        staging, final = Path(entry["staging"]), Path(entry["final"])
        if staging.exists():
            _promote(staging, final)
            recovered.append(entry["table"])
    manifest.unlink()
    if recovered:
        log.warning("rolled forward interrupted promote for: %s", ", ".join(recovered))
    return recovered


def _promote(staging: Path, final: Path) -> None:
    """Same-filesystem rename promote (near-atomic, data-independent)."""
    if final.exists():
        shutil.rmtree(final, ignore_errors=True) if final.is_dir() else final.unlink()
    staging.rename(final)


def execute_plan_versioned(
    catalog: ParquetCatalog,
    plan: Plan,
    tables_root: str | Path,
    dryrun: bool = True,
    row_cap: int = DEFAULT_ROW_CAP,
    force: bool = False,
) -> ExecutionResult:
    """Transactional apply through the commit-log tables — the SURVEY §7
    "faithful rollback" upgrade path over the staged-promote apply.

    Each table lives as a :class:`~database_anonymiser_spark.sources.versioned.VersionedTable`
    under ``tables_root/<name>`` (created from the catalog source on first
    touch; version 0 is the pristine table). Apply commits ONE
    ``anonymise`` version per table that replaces the live set with the
    masked rewrite; dryrun computes the same counts with ZERO commits —
    exactly the reference's UPDATE-under-ROLLBACK (executor.ts:98-137)
    rendered on a transaction log. A failed apply is rolled back by
    ``restore()`` (forward, auditable), not by hoping a rename didn't land.

    Every table is first prepared as in :func:`execute_plan` (mask plus
    footer row count, no Spark job): a dryrun returns those counts, and an
    apply checks the row cap on them and writes nothing if a table failed.

    All-or-nothing across tables, two-phase:
    1. every table's masked data files are fully written while INVISIBLE
       (referenced by no commit) — any failure here commits nothing and
       the orphans are vacuumed on EVERY table phase 1 touched, including
       one that failed mid-write before staging (round-5 advice: partial
       parquet from a failed ``_write_data_files`` is an orphan too).
       Tables first created during this run keep their committed
       version-0 pristine copy after rollback — version 0 is a real
       commit of the unmasked source, by design;
    2. the per-table commits are pure metadata (one tiny exclusive-create
       each). A crash inside this window can leave a prefix committed —
       recovery is ``restore(v-1)`` per committed table; Delta itself has
       no multi-table transactions, and the window is milliseconds versus
       phase 1's hours at 100 TB.

    An apply's row counts come from the written files' parquet footers
    (metadata, no second scan). NOTE: the log retains the pre-image until
    vacuumed past retention — time travel to the unmasked original is the point for
    staging-copy workflows (the reference also runs against a copy DB),
    but production anonymisation should vacuum old versions.
    """
    from database_anonymiser_spark.sources.versioned import (
        VersionedTable,
        _commit,
        _write_data_files,
    )

    root = Path(tables_root)
    result, prepared = _prepare_plan(catalog, plan, dryrun, row_cap, force, parallelism=1)
    if dryrun or result.rolled_back:
        return result

    # phase 1: invisible write per table
    staged: list[tuple[VersionedTable, list]] = []
    touched: list[VersionedTable] = []  # every table phase 1 wrote into
    for planned, (tr, masked) in zip(plan.tables, prepared):
        if masked is None:
            continue
        t0 = time.perf_counter()
        try:
            t_root = root / planned.name
            t = (
                VersionedTable(catalog.spark, t_root)
                if (t_root / "_log").is_dir()
                else VersionedTable.create(
                    catalog.spark, t_root, catalog.read(planned.name), key_col=None
                )
            )
            touched.append(t)
            adds = _write_data_files(masked, t.root, None)
            # the write already read each file's footer row count and size
            tr.rows = sum(e.num_rows for e in adds)
            tr.files = len(adds)
            tr.bytes = sum(e.size for e in adds)
            staged.append((t, adds))
        except Exception as e:
            _fail(tr, e)
        tr.wall_s += time.perf_counter() - t0

    if result.failed_tables:
        # nothing was committed; drop the invisible phase-1 files — from
        # every table touched, not only those that finished staging (a
        # mid-write failure leaves partial parquet too)
        result.rolled_back = True
        for t in touched:
            # grace 0: these are OUR just-staged files (single writer
            # inside the apply run), not a concurrent writer's in-flight
            # window
            t.vacuum(orphan_grace_s=0)
        return result

    # phase 2: metadata-only commit loop
    for t, adds in staged:
        v = t.latest_version()
        removes = [e["path"] for e in t._live_entries(v)]
        _commit(t.root, v + 1, adds, removes, t.key_col(), op="anonymise")
    result.updated_by_table = _counted(result)
    return result


def execute_plan(
    catalog: ParquetCatalog,
    plan: Plan,
    dryrun: bool = True,
    output_root: str | Path | None = None,
    row_cap: int = DEFAULT_ROW_CAP,
    force: bool = False,
    parallelism: int = 4,
    max_records_per_file: int = DEFAULT_MAX_RECORDS_PER_FILE,
) -> ExecutionResult:
    """≅ executePlan (executor.ts:87-147) with staged-write apply.

    Apply enforces the row cap on the prepared footer counts before any
    write (safeguards made live, SURVEY.md §2 C6), rolls forward any
    promote interrupted by a previous crash, and journals its own promote
    phase so IT is crash-atomic too. A table that fails to prepare rolls
    the apply back before anything is written.
    """
    out_root = Path(output_root) if output_root else None
    if not dryrun:
        if out_root is None:
            raise ValueError("apply mode requires output_root")
        out_root.mkdir(parents=True, exist_ok=True)
        recover_pending_promote(out_root)

    result, prepared = _prepare_plan(
        catalog, plan, dryrun, row_cap, force, parallelism, sliced=not dryrun
    )
    if dryrun or result.rolled_back:
        return result

    # largest table first (Graham's longest-processing-time rule): the
    # pool and Spark's FIFO scheduler start the longest write first
    active = sorted(
        ((planned, tr, masked) for planned, (tr, masked)
         in zip(plan.tables, prepared) if masked is not None),
        key=lambda a: -a[1].rows,
    )
    stagings = _map(
        catalog.spark,
        lambda a: _stage_table(out_root, *a, max_records_per_file),
        active,
        parallelism,
    )
    if result.failed_tables:
        # a write failed: delete every staging, promote nothing — the
        # output root is left exactly as it was
        result.rolled_back = True
        for staging in stagings:
            if staging is not None:
                shutil.rmtree(staging, ignore_errors=True)
        return result

    promotions = [
        (staging, out_root / f"{planned.name}.parquet")
        for (planned, _, _), staging in zip(active, stagings)
    ]
    if promotions:
        # Journal-then-rename: a crash anywhere in the loop is rolled forward
        # by recover_pending_promote on the next apply. The journal itself
        # lands atomically (temp + os.replace) so a crash mid-journal can
        # never leave a torn manifest that blocks future applies.
        manifest = out_root / PROMOTE_MANIFEST
        tmp = out_root / f"{PROMOTE_MANIFEST}.tmp"
        tmp.write_text(
            json.dumps(
                [
                    {"table": final.stem, "staging": str(staging), "final": str(final)}
                    for staging, final in promotions
                ]
            )
        )
        os.replace(tmp, manifest)
        for staging, final in promotions:
            _promote(staging, final)
        manifest.unlink()
    result.updated_by_table = _counted(result)
    return result
