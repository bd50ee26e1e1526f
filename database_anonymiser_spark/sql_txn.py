"""Atomic multi-statement SQL transactions — ``BEGIN; ...; COMMIT;``
in ``--sqlFile`` scripts (round 14).

The reference wraps its ENTIRE apply in ONE database transaction
(``src/main.ts:102-111``: BEGIN → per-table UPDATEs → COMMIT/ROLLBACK;
``src/executor/executor.ts:98-137`` runs the dry run the same way).
Round 13's script face committed per statement, with forward-restore
rollback as the consolation — readers could observe intermediate
versions, and a crash between statements left partial state. This
module closes that last transactional-semantics gap.

Design — fork, run natively, publish atomically:

1. **BEGIN** opens a :class:`ScriptTransaction`. On each table's FIRST
   touch it is forked as a SHALLOW CLONE (``VersionedTable.clone`` —
   metadata-only, O(1) data) into a private workspace under the
   coordinator's ``_txn/ws-<id>/`` directory.
2. Every DML statement executes NATIVELY against the clone through the
   round-13 statement front (``sql_dml.execute_dml``): full file
   skipping, constraint checks, CDF-shaped commits — all landing in the
   clone's own log, INVISIBLE to readers of the original. Later
   statements see earlier statements' effects (the clone's head);
   reads inside statements (``MERGE USING <view>``, ``IN (SELECT
   ...)``) see the PRE-transaction snapshot — snapshot isolation.
3. **COMMIT** computes the clone-vs-base FILE DIFF per table, MOVES the
   clone's new data/DV/bloom files into the original's own directories
   (invisible until a commit references them — the engine's native
   write protocol), and publishes ONE commit per table through the 2PC
   manifest machinery (``sources/txn.py``): the manifest's tmp+rename
   is the atomic decision point; everything after is roll-forward that
   ``recover()`` completes after any crash.
4. **ROLLBACK** (or any statement failure, or the script ending inside
   an open transaction) discards the workspaces — since nothing ever
   committed to an original, NO table shows ANY of the script's
   effects and no intermediate version was ever reader-visible.

Crash matrix: before the manifest rename → the originals never changed;
moved-but-unreferenced files are invisible orphans (``vacuum(None)``
reclaims them) and the workspace directory is disposable garbage
(``abandoned_workspaces`` lists them, ``ScriptTransaction.sweep``
removes them). After the rename → ``recover(coordinator)`` rolls every
table's publish forward (re-entrant, witnessed by ``meta.txn``).

Isolation/conflict contract — SERIALIZABLE at table granularity:
COMMIT refuses (:class:`SqlTxnError`, nothing published, workspaces
discarded) when any touched table's head moved past the version first
touched. This is stricter than Delta's per-commit conflict detection
(which admits disjoint-file winners) and is the honest choice for a
multi-statement read-modify-write: the transaction's statements may
have READ any row of the base snapshot.

100 TB shape: the fork is metadata-only; statements pay exactly what
they pay outside a transaction (copy-on-write + file skipping on the
clone); COMMIT is O(changed files) renames + O(tables) tiny-JSON
commits — never a data pass. The workspace publish moves files instead
of rewriting them, so a transaction costs the same bytes as its
statements run bare.
"""

from __future__ import annotations

import os
import re
import shutil
import uuid
from pathlib import Path

from database_anonymiser_spark.sql_dml import (
    SqlDmlError,
    _strip_stmt,
    classify_dml,
    classify_utility,
    execute_dml,
    statement_target,
)

__all__ = ["SqlTxnError", "classify_txn", "ScriptTransaction"]

_WS_PREFIX = "ws-"


class SqlTxnError(ValueError):
    """A transaction-control statement we refuse, or a COMMIT that
    cannot publish (write-write conflict, schema change). The
    transaction is rolled back — nothing was ever visible."""


def classify_txn(stmt: str) -> str | None:
    """'begin' | 'commit' | 'rollback' for the transaction-control
    statements (``BEGIN``/``START TRANSACTION``, ``COMMIT``,
    ``ROLLBACK``, each with optional ``TRANSACTION|WORK``), else None."""
    s = _strip_stmt(stmt)
    if re.fullmatch(r"(BEGIN|START)(\s+TRANSACTION)?(\s+WORK)?", s, re.I):
        # START requires the TRANSACTION keyword (SQL standard); BEGIN
        # stands alone (the reference's literal statement, main.ts:102)
        if re.fullmatch(r"START", s, re.I):
            return None
        return "begin"
    if re.fullmatch(r"COMMIT(\s+(TRANSACTION|WORK))?", s, re.I):
        return "commit"
    if re.fullmatch(r"ROLLBACK(\s+(TRANSACTION|WORK))?", s, re.I):
        return "rollback"
    return None


def _resolve(ref: str, root: Path) -> Path:
    return Path(ref) if os.path.isabs(ref) else (root / ref)


def _norm_entry(e: dict, root: Path) -> dict:
    """Entry normalized for change detection: every file ref resolved to
    an absolute path string, optional fields defaulted, the clustering
    watermark dropped (``clone`` does not carry it, and a layout tag
    difference is not a content change)."""
    return {
        "path": str(_resolve(e["path"], root)),
        "key_min": e.get("key_min"),
        "key_max": e.get("key_max"),
        "stats": e.get("stats"),
        "num_rows": e.get("num_rows"),
        "dv": str(_resolve(e["dv"], root)) if e.get("dv") else None,
        "dv_count": e.get("dv_count"),
        "size": e.get("size"),
        "bloom": {
            c: str(_resolve(p, root))
            for c, p in (e.get("bloom") or {}).items()
        }
        or None,
    }


def _publish_diff(orig_root: Path, ws_root: Path, base_live: dict,
                  ws_live: dict):
    """Clone-vs-base file diff, rendered for ONE publish commit on the
    original: returns ``(adds: [_FileEntry], removes: [path],
    moves: [(src_abs, dst_abs)])`` where every add entry's refs are
    original-root-relative (clone files scheduled for a move) or
    absolute (files foreign to BOTH roots — the original was itself a
    shallow clone; passed through untouched)."""
    from database_anonymiser_spark.sources.versioned import _FileEntry

    orig_root = Path(orig_root).absolute()
    ws_root = Path(ws_root).absolute()
    moves: list[tuple[Path, Path]] = []

    def localize(ref: str | None, subdir_hint: str) -> str | None:
        """One file ref of a clone entry → its published form. Relative
        refs are the clone's OWN files: schedule the move into the
        original (fresh uuid name on collision). Absolute refs under the
        original re-relativize; other absolute refs pass through."""
        if ref is None:
            return None
        if os.path.isabs(ref):
            try:
                return str(Path(ref).relative_to(orig_root))
            except ValueError:
                return ref
        src = ws_root / ref
        dst = orig_root / ref
        if dst.exists():
            suffix = "".join(Path(ref).suffixes)
            dst = orig_root / subdir_hint / (uuid.uuid4().hex + suffix)
        moves.append((src, dst))
        return str(dst.relative_to(orig_root))

    base_by_abs = {
        str(_resolve(e["path"], orig_root)): k for k, e in base_live.items()
    }
    adds: list = []
    removes: list[str] = []
    matched: set[str] = set()
    for e in ws_live.values():
        abs_path = str(_resolve(e["path"], ws_root))
        bkey = base_by_abs.get(abs_path)
        if bkey is not None:
            matched.add(bkey)
            if _norm_entry(e, ws_root) == _norm_entry(
                base_live[bkey], orig_root
            ):
                continue  # untouched by the transaction
            removes.append(bkey)
            clustered = e.get("clustered") or base_live[bkey].get("clustered")
        else:
            clustered = e.get("clustered")
        path_dir = str(Path(e["path"]).parent)
        adds.append(
            _FileEntry(
                localize(e["path"], path_dir),
                e.get("key_min"),
                e.get("key_max"),
                e.get("stats"),
                e.get("num_rows"),
                bloom={
                    c: localize(p, str(Path(p).parent))
                    for c, p in (e.get("bloom") or {}).items()
                }
                or None,
                dv=localize(e.get("dv"), "_dv"),
                dv_count=e.get("dv_count"),
                size=e.get("size"),
                clustered=clustered,
            )
        )
    removes.extend(k for k in base_live if k not in matched)
    return adds, removes, moves


class ScriptTransaction:
    """One BEGIN..COMMIT statement group of a ``--sqlFile`` script.

    ``versioned_views`` is the CLI's live registration map (LOWERCASED
    view name → ``{"root", "pinned"}``); the transaction overlays
    touched names with their workspace clones so the round-13 statement
    front runs completely unmodified against the fork."""

    def __init__(self, spark, versioned_views: dict[str, dict]):
        self.spark = spark
        self.views = versioned_views
        self.id = uuid.uuid4().hex[:16]
        self.overlay: dict[str, dict] = dict(versioned_views)
        #: view name → {"orig_root", "ws_root", "base_version"}
        self.touched: dict[str, dict] = {}
        self.statements: list[str] = []
        self._ws_parent: Path | None = None
        self._done = False

    # -- statement execution ------------------------------------------

    def _ensure_fork(self, name: str) -> None:
        key = name.lower()
        if key in self.touched or key not in self.views:
            return  # unknown / non-versioned: execute_dml refuses itself
        meta = self.views[key]
        if meta.get("pinned"):
            return  # pinned views keep their own refusal message
        from database_anonymiser_spark.sources.versioned import (
            VersionedTable,
        )

        orig_root = Path(meta["root"]).absolute()
        if self._ws_parent is None:
            # the FIRST touched table's root is the coordinator — the
            # same convention as MultiTableTransaction, so the manifest
            # and the workspaces share a recovery domain
            self._ws_parent = orig_root / "_txn" / f"{_WS_PREFIX}{self.id}"
        orig = VersionedTable(self.spark, orig_root)
        base_v = orig.latest_version()
        ws_root = self._ws_parent / key
        VersionedTable.clone(
            self.spark, orig_root, ws_root, version=base_v
        )
        self.touched[key] = {
            "orig_root": orig_root,
            "ws_root": ws_root,
            "base_version": int(base_v),
        }
        self.overlay[key] = {"root": str(ws_root), "pinned": False}

    def execute(self, stmt: str) -> dict:
        """Run ONE statement inside the transaction.

        Transactionality matrix (round 15, the r14 stretch ask):

        ========================  =========================================
        statement                 inside BEGIN..COMMIT
        ========================  =========================================
        UPDATE / DELETE FROM      YES — stages against the fork, publishes
        INSERT INTO / OVERWRITE   YES — same (OVERWRITE = removes+adds)
        MERGE INTO                YES — same
        TRUNCATE TABLE            YES (r15) — metadata-only dereference has
                                  an exact one-commit rendering (the base's
                                  live set lands in ``removes``)
        OPTIMIZE / VACUUM         NO — physical file reshaping: a rewrite
                                  that must stay invisible until COMMIT
                                  doubles storage for zero semantic effect,
                                  and VACUUM's reclaim of shared files
                                  cannot be staged invisibly at all
        RESTORE                   NO — history surgery has no meaning on a
                                  fork whose history is one clone commit
        ALTER / DDL               NO — schema evolution is non-transactional
                                  by contract (COMMIT re-checks and refuses)
        ERASE                     NO — physically reclaims pre-images; an
                                  invisible-until-commit hard delete is a
                                  contradiction (and the fork's files are
                                  shared with the base)
        CREATE/CLONE/COPY/MV      NO — registry-level operations
        ========================  =========================================
        """
        if self._done:
            raise SqlTxnError("transaction already committed/rolled back")
        is_truncate = classify_utility(stmt) == "truncate"
        if classify_dml(stmt) is None and not is_truncate:
            raise SqlTxnError(
                "transactional statements are UPDATE / DELETE FROM / "
                "INSERT INTO / INSERT OVERWRITE / MERGE INTO / TRUNCATE "
                "TABLE; run other maintenance (OPTIMIZE/VACUUM/RESTORE/"
                "ALTER/ERASE/...) outside BEGIN..COMMIT — file "
                "reshaping, history surgery and physical reclamation "
                "have no sound publish-as-one-commit rendering "
                "(ScriptTransaction.execute docstring has the matrix)"
            )
        tgt = statement_target(stmt)
        if tgt:
            self._ensure_fork(tgt)
        if is_truncate:
            from database_anonymiser_spark.sql_dml import execute_utility

            frag = execute_utility(self.spark, stmt, self.overlay)
        else:
            frag = execute_dml(self.spark, stmt, self.overlay, dryrun=False)
        self.statements.append(stmt)
        key = str(frag.get("table", "")).lower()
        frag["mode"] = "sql_txn_stmt"
        frag["txn"] = self.id
        frag["staged"] = True  # nothing visible until COMMIT publishes
        if key in self.touched:
            frag["workspace_version"] = frag.pop("new_version")
            frag["root"] = str(self.touched[key]["orig_root"])
        return frag

    # -- terminal operations -------------------------------------------

    def _cleanup(self) -> None:
        if self._ws_parent is not None:
            from database_anonymiser_spark.sources.versioned import (
                _replay_cache_invalidate,
            )

            for info in self.touched.values():
                _replay_cache_invalidate(info["ws_root"])
            shutil.rmtree(self._ws_parent, ignore_errors=True)

    def rollback(self) -> dict:
        """Discard the workspaces. Nothing was ever visible, so there is
        nothing to restore — the explicit ROLLBACK statement and every
        failure path land here."""
        self._done = True
        n = len(self.statements)
        self._cleanup()
        return {
            "mode": "sql_txn",
            "op": "rollback",
            "txn": self.id,
            "statements_discarded": n,
        }

    def commit(self) -> dict:
        """Validate, stage, and PUBLISH: one ``txn_publish`` commit per
        changed table, all-or-nothing through the 2PC manifest. Raises
        :class:`SqlTxnError` (after discarding the workspaces — nothing
        published) on a write-write conflict or an in-transaction schema
        change."""
        if self._done:
            raise SqlTxnError("transaction already committed/rolled back")
        self._done = True
        from database_anonymiser_spark.sources.txn import (
            MultiTableTransaction,
        )
        from database_anonymiser_spark.sources.versioned import (
            VersionedTable,
            _replay,
        )

        try:
            parts: list[dict] = []
            for key, info in self.touched.items():
                orig_root: Path = info["orig_root"]
                base_v: int = info["base_version"]
                orig = VersionedTable(self.spark, orig_root)
                head_now = orig.latest_version()
                if head_now != base_v:
                    raise SqlTxnError(
                        f"write-write conflict on {key!r}: the table "
                        f"moved from version {base_v} to {head_now} "
                        "during the transaction; nothing was published "
                        "— re-run the script against the new head"
                    )
                ws = VersionedTable(self.spark, info["ws_root"])
                ws_head = ws.latest_version()
                if ws_head == 0:
                    continue  # forked but never actually changed
                base_state = _replay(orig_root, base_v)
                ws_state = _replay(info["ws_root"], ws_head)
                if (
                    ws_state[3] is not None
                    and base_state[3] is not None
                    and ws_state[3] != base_state[3]
                ):
                    raise SqlTxnError(
                        f"the transaction changed {key!r}'s schema; "
                        "schema evolution is not transactional — evolve "
                        "outside BEGIN..COMMIT"
                    )
                adds, removes, moves = _publish_diff(
                    orig_root, info["ws_root"], base_state[0], ws_state[0]
                )
                meta: dict = {"sql_txn_statements": len(self.statements)}
                # DML can advance table PROPERTIES (identity high-water
                # marks); carry the delta so allocation survives publish
                if ws_state[6] != base_state[6]:
                    meta["properties"] = dict(ws_state[6])
                if not adds and not removes and len(meta) == 1:
                    continue  # e.g. an UPDATE matching zero rows
                parts.append(
                    {
                        "key": key,
                        "root": orig_root,
                        "base_version": base_v,
                        "key_col": orig.key_col(),
                        "schema": base_state[3],
                        "adds": adds,
                        "removes": removes,
                        "moves": moves,
                        "meta": meta,
                    }
                )
            if not parts:
                self._cleanup()
                return {
                    "mode": "sql_txn",
                    "op": "commit",
                    "txn": self.id,
                    "tables": {},
                    "statements": len(self.statements),
                }
            # stage: move the clones' new files into each original —
            # invisible until the publish commit references them; a
            # crash from here to the manifest rename leaves reclaimable
            # orphans and NO visible change
            for p in parts:
                for src, dst in p["moves"]:
                    dst.parent.mkdir(parents=True, exist_ok=True)
                    shutil.move(str(src), str(dst))
            txn = MultiTableTransaction(
                parts[0]["root"], txn_id=f"sqltxn-{self.id}"
            )
            for p in parts:
                txn.stage_publish(
                    p["root"],
                    p["key_col"],
                    p["adds"],
                    p["removes"],
                    schema=p["schema"],
                    meta=p["meta"],
                )
            versions = txn.commit()  # <- the manifest rename decides
            self._cleanup()
            return {
                "mode": "sql_txn",
                "op": "commit",
                "txn": self.id,
                "statements": len(self.statements),
                "tables": {
                    p["key"]: {
                        "root": str(p["root"]),
                        "base_version": p["base_version"],
                        "new_version": versions[str(p["root"])],
                        "adds": len(p["adds"]),
                        "removes": len(p["removes"]),
                    }
                    for p in parts
                },
            }
        except SqlTxnError:
            self._cleanup()
            raise
        except SqlDmlError:
            self._cleanup()
            raise


def abandoned_workspaces(
    root: str | Path, grace_s: float = 6 * 3600.0
) -> list[Path]:
    """Workspace directories under ``<root>/_txn`` that are crash
    leftovers: STALE (no write anywhere in the tree for ``grace_s``
    seconds — round-14 review fix: an OPEN transaction in another
    process keeps touching its workspace, and deleting it out from
    under that process would fail its next statement; pass
    ``grace_s=0`` only when no concurrent writer can exist, e.g.
    tests). Decided transactions never reference workspace paths (files
    move out before the manifest is written), so age is the only
    liveness signal needed."""
    import time as _time

    d = Path(root) / "_txn"
    if not d.is_dir():
        return []
    now = _time.time()
    out = []
    for p in sorted(d.iterdir()):
        if not (p.is_dir() and p.name.startswith(_WS_PREFIX)):
            continue
        try:
            newest = max(
                (q.stat().st_mtime for q in p.rglob("*")),
                default=p.stat().st_mtime,
            )
        except OSError:
            continue  # racing a concurrent cleanup: skip
        if now - newest >= grace_s:
            out.append(p)
    return out


def sweep_workspaces(root: str | Path, grace_s: float = 6 * 3600.0) -> int:
    """Remove abandoned transaction workspaces (run alongside
    ``txn.recover`` at pipeline start). Age-guarded — see
    :func:`abandoned_workspaces`. Returns the count removed."""
    ws = abandoned_workspaces(root, grace_s=grace_s)
    for p in ws:
        shutil.rmtree(p, ignore_errors=True)
    return len(ws)
