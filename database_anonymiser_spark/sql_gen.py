"""Emit the anonymisation plan as a SQL DML script (round 13).

The reference's executor never touches rows itself — it COMPILES the
plan to per-table ``UPDATE "t" SET "col" = expr`` statements and ships
them to Postgres (``src/executor/query-builder.ts:52-74``). This module
renders that script for the Spark engine: the same resolved, type-safety-
normalized plan the executor runs, one UPDATE per table, each SET
expression the text of ``strategies.strategy_sql`` — the very text
``--apply`` runs through ``selectExpr``, so there is one compiler, not
a twin to keep equal. Every table and column identifier is backtick-
quoted. The script runs back through ``--sqlFile`` against
``--versionedTable`` views (the DML face routes each statement to the
native copy-on-write ops).

Why it exists: the emitted script is the reference's LITERAL artifact —
a user migrating from the reference can diff this script against what
query-builder.ts produced, review it, check it into change control, and
run it with ``--sqlDryrun`` first. The pytest equivalence check pins
that executing the emitted script reproduces the engine's own apply
output value-for-value.

Keyed strategies (HASH_HMAC / HASH_KEYED) are the one thing a script
cannot carry: the RFC 2104 pads are key-equivalent material, so their
SET expressions are emitted with ``{{HMAC_IPAD_HEX}}`` /
``{{HMAC_OPAD_HEX}}`` placeholders and a header explaining the
substitution — the key never lands in a file, same contract as the
config/report/log paths.
"""

from __future__ import annotations

from database_anonymiser_spark.strategies import (
    normalize_columns_for_types,
    quote_ident,
    strategy_sql,
)

__all__ = ["emit_sql_script", "emit_erase_script"]


def emit_sql_script(catalog, plan, transactional: bool = False) -> str:
    """Render the resolved plan as per-table UPDATE statements, applying
    the SAME live-schema type-safety normalization the executor applies
    (``executor.ts:45-85`` → ``strategies.normalize_columns_for_types``)
    so the script and the engine downgrade identically. Tables with zero
    active rewrites emit nothing (query-builder.ts:54-56).

    ``transactional=True`` (round 14, ``--emitSqlTxn``) wraps the
    UPDATE block in ``BEGIN; ... COMMIT;`` — the reference's OWN apply
    shape (``main.ts:102-111`` runs every per-table UPDATE in ONE
    transaction), runnable as-is through the script face's atomic
    BEGIN..COMMIT: one ``txn_publish`` commit per table, nothing
    visible on failure."""
    lines = [
        "-- anonymisation script emitted by database_anonymiser_spark",
        "-- one UPDATE per table; run through:",
        "--   python -m database_anonymiser_spark.cli --sqlFile <this> \\",
        "--     --data <extract> --versionedTable <t>=<root> [--sqlDryrun]",
        "-- {{HMAC_IPAD_HEX}}/{{HMAC_OPAD_HEX}} placeholders (if present)",
        "-- are RFC 2104 pad hex for your secret key — substitute at run",
        "-- time, never commit a substituted script.",
        "",
    ]
    if transactional:
        lines += [
            "-- whole-apply transaction (the reference's main.ts shape):",
            "-- all tables publish atomically, or none do",
            "BEGIN;",
            "",
        ]
    emitted = 0
    for pt in plan.tables:
        try:
            schema = catalog.read(pt.name).schema
        except Exception:
            lines.append(f"-- {pt.name}: not in the extract, skipped")
            continue
        sets = []
        for nc in normalize_columns_for_types(list(pt.columns), schema):
            col = quote_ident(nc.column)
            expr = strategy_sql(nc.strategy, col, nc.params)
            if expr is not None:
                sets.append(f"{col} = {expr}")
            if nc.downgraded_from:
                lines.append(
                    f"-- {pt.name}.{nc.column}: {nc.downgraded_from} "
                    f"downgraded ({nc.reason})"
                )
        if not sets:
            lines.append(f"-- {pt.name}: no active rewrites, skipped")
            lines.append("")
            continue
        lines.append(f"UPDATE {quote_ident(pt.name)} SET")
        lines.append(",\n".join(f"  {s}" for s in sets) + ";")
        lines.append("")
        emitted += 1
    if transactional:
        lines.append("COMMIT;")
        lines.append("")
    lines.append(f"-- {emitted} table(s) with active rewrites")
    return "\n".join(lines) + "\n"


def emit_erase_script(
    table: str, key_col: str, subjects, chunk: int = 1000,
    key_type: str = "auto",
) -> str:
    """Render a reviewable GDPR Art. 17 erasure script (round 15,
    ``--emitErase``): ``ERASE FROM <table> WHERE <key> IN (...)``
    statements from a data-subject list — the DSAR workflow's artifact.
    The script runs through the SQL face (``--sqlFile``), previewable
    with ``--sqlDryrun``; each statement routes to the native verified
    hard delete (delete + pre-image vacuum + log-stat scrub +
    zero-residue verification, ``sources/versioned.py::erase``). The
    IN-list literals feed ``derive_prune``'s min/max range, so each
    statement reads only files whose key range overlaps its subjects.

    ``subjects``: iterable of subject-key values (one per DSAR line);
    blank lines drop, duplicates collapse (first occurrence wins).
    ``chunk`` bounds the IN-list per statement — large subject sets
    stay reviewable, and each chunk's range prune stays tight when the
    list is sorted/clustered.

    ``key_type`` decides the literal rendering — an erase that deletes
    MORE than the subject list names is a compliance incident, so the
    rendering must match the key column's type, not the subjects'
    lexical shape (round-15 review fix: ``'007'`` rendered as the
    integer ``7`` against a STRING key would coerce-match ``'7'``,
    ``'07'`` and ``'007'``):

    - ``"int"`` — unquoted integer literals; refuses any non-integral
      subject
    - ``"string"`` — always single-quoted (embedded quotes doubled)
    - ``"auto"`` — integers ONLY when every subject is a CANONICAL
      integer (no leading zeros, no '+'); anything lexically
      non-canonical forces quoted-string rendering, and the header
      records the decision with a pointer to declare the type
      explicitly

    Reference parity: the reference has no erasure surface (its scripts
    only UPDATE, ``src/executor/query-builder.ts:52-74``); this is the
    engine extension the compliance pipeline needs, emitted in the same
    reviewable-script shape as ``emit_sql_script``.
    """
    import re as _re

    for ident, what in ((table, "table"), (key_col, "key column")):
        if not _re.fullmatch(r"[A-Za-z_][\w$]*", str(ident or "")):
            raise ValueError(
                f"emit_erase_script {what} {ident!r} must be a plain "
                "identifier"
            )
    subs = list(dict.fromkeys(
        s.strip() for s in (str(x) for x in subjects) if s.strip()
    ))
    if not subs:
        raise ValueError("no subjects to erase (empty subject list)")
    if int(chunk) < 1:
        raise ValueError("chunk must be >= 1")
    if key_type not in ("auto", "int", "string"):
        raise ValueError("key_type must be auto | int | string")
    canon_int = r"-?(?:0|[1-9]\d*)"
    if key_type == "int":
        bad = [s for s in subs if not _re.fullmatch(canon_int, s)]
        if bad:
            raise ValueError(
                f"key_type='int' but subjects are not canonical "
                f"integers: {bad[:5]}"
            )
        numeric = True
    elif key_type == "string":
        numeric = False
    else:
        numeric = all(_re.fullmatch(canon_int, s) for s in subs)
    render = (
        (lambda s: s)
        if numeric
        else (lambda s: "'" + s.replace("'", "''") + "'")
    )
    lines = [
        "-- GDPR Art. 17 erasure script emitted by database_anonymiser_spark",
        f"-- table: {table}  subject key: {key_col}  "
        f"subjects: {len(subs)}",
        f"-- rendering: {'integer' if numeric else 'quoted-string'} "
        f"literals (key_type={key_type}"
        + (
            "; pass --subjectType int|string to declare the key's type "
            "explicitly)"
            if key_type == "auto"
            else ")"
        ),
        "-- each statement is a VERIFIED hard delete (pre-image vacuum +",
        "-- log-stat scrub + zero-residue check); preview with --sqlDryrun,",
        "-- then run:",
        "--   python -m database_anonymiser_spark.cli --sqlFile <this> \\",
        f"--     --data <extract> --versionedTable {table}=<root>",
        "-- NOTE: erasure is by design NOT rollbackable "
        "(--sqlRollbackOnError refuses it)",
        "",
    ]
    for i in range(0, len(subs), int(chunk)):
        vals = ", ".join(render(s) for s in subs[i : i + int(chunk)])
        lines.append(f"ERASE FROM {table} WHERE {key_col} IN ({vals});")
    lines.append("")
    return "\n".join(lines)
