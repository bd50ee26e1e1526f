"""Masking strategies, compiled to Spark SQL text.

Rebuilds the strategy compiler of the reference
(``src/executor/query-builder.ts:21-51``) and the type-safety downgrade guard
(``src/executor/executor.ts:45-85``). Like the reference, the compiler emits
SQL text, one expression per (strategy, column): :func:`strategy_sql`. The
same text serves both faces of the engine:

- ``--dryrun`` / ``--apply``: :func:`masked_projection` builds a table's mask
  as ONE ``df.selectExpr(...)`` of that text, so Catalyst parses and analyses
  the whole projection in one JVM call;
- ``--emitSql``: ``sql_gen`` renders the same text into reviewable
  ``UPDATE ... SET`` statements.

100 TB posture: every strategy is a built-in Catalyst expression (md5,
coalesce, substring, concat, literals) — whole-stage-codegen'd on the JVM, no
Python in the row path, no serialization boundary. A full-table mask is one
narrow projection: no shuffle, scales linearly with input splits.

Semantics preserved exactly:
- ``HASH_SHA256`` is **actually md5** in the reference
  (``src/executor/query-builder.ts:33-34``) — we keep md5 under that name for
  config + oracle compatibility and expose a real sha256 as ``HASH_SHA256_REAL``.
- Null inputs coalesce to '' before hashing/truncation
  (``src/executor/query-builder.ts:34,40,45``).
- Unknown strategy → safe no-op (``src/executor/query-builder.ts:48-50``).
"""

from __future__ import annotations

import hashlib
import logging
import os
import re
import threading
from dataclasses import dataclass, field

from pyspark.errors.exceptions.captured import CapturedException
from pyspark.logger import PySparkLogger
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from database_anonymiser_spark.types import TypeGroup, group_for_field

log = logging.getLogger(__name__)

DEFAULT_TRUNCATE_LENGTH = 4  # reference: params.n ?? 4 (query-builder.ts:38)

# Strategies that may only run on STRING columns (executor.ts:12).
STRICT_STRING_ONLY = frozenset({"EMAIL_FAKE", "REDACT", "TRUNCATE"})
# HASH is additionally allowed on OTHER (executor.ts:76-81).
HASH_ALLOWED_GROUPS = frozenset({TypeGroup.STRING, TypeGroup.OTHER})
# Always allowed regardless of type group (executor.ts:57).
ALWAYS_ALLOWED = frozenset({"KEEP", "SET_NULL"})
# The HASH strategy family shares one type-safety rule (executor.ts:76-81).
HASH_FAMILY = frozenset({"HASH_SHA256", "HASH_SHA256_REAL", "HASH_HMAC", "HASH_KEYED"})

#: env var the keyed HASH_HMAC strategy reads its secret from when no key
#: was set programmatically / via --hmacKey. The key lives ONLY in the
#: process environment or the CLI invocation — never in the YAML config,
#: the report, or a log line.
HMAC_KEY_ENV = "ANONYMISER_HMAC_KEY"
_HMAC_BLOCK = 64  # SHA-256 block size (RFC 2104)
_hmac_key_override: "bytes | None" = None

#: placeholders the keyed strategies' SQL carries instead of pad material;
#: :func:`masked_projection` substitutes them in memory, an emitted script
#: keeps them for the operator to fill at run time
IPAD_HEX = "{{HMAC_IPAD_HEX}}"
OPAD_HEX = "{{HMAC_OPAD_HEX}}"

#: 32+ contiguous hex chars (optionally 0x-prefixed): the shape of the HMAC
#: pad literals (64-byte pads = 128 hex chars). Analyzer error messages can
#: embed expression literals, so text derived from a keyed plan or its
#: errors passes through :func:`redact_pad_hex` before it is reported.
_PAD_HEX = re.compile(r"(?:0x)?[0-9A-Fa-f]{32,}")


def redact_pad_hex(text) -> str:
    """``text`` with every pad-shaped hex run replaced by a marker."""
    return _PAD_HEX.sub("<redacted-literal>", str(text))


def set_hmac_key(key: "str | bytes | None") -> None:
    """Install the HMAC key for this process (CLI ``--hmacKey`` path).
    ``None`` clears the override so :func:`_resolve_hmac_key` falls back
    to the environment."""
    global _hmac_key_override
    if key is None:
        _hmac_key_override = None
    else:
        _hmac_key_override = key.encode() if isinstance(key, str) else bytes(key)


def _resolve_hmac_key(key: "str | bytes | None" = None) -> bytes:
    """Key precedence: explicit ``key`` > :func:`set_hmac_key` >
    ``ANONYMISER_HMAC_KEY`` — never the YAML config, never logged."""
    if key is not None:
        return key.encode() if isinstance(key, str) else bytes(key)
    if _hmac_key_override is not None:
        return _hmac_key_override
    env = os.environ.get(HMAC_KEY_ENV)
    if env:
        return env.encode()
    raise ValueError(
        "HASH_HMAC requires a key: set the "
        f"{HMAC_KEY_ENV} environment variable or pass --hmacKey "
        "(the key is never read from the YAML config by design)"
    )


def _hmac_pads(key: bytes) -> tuple[bytes, bytes]:
    """RFC 2104 inner/outer pads for SHA-256: keys longer than the 64-byte
    block are hashed first, then zero-padded; pads are key ⊕ 0x36 / 0x5c.
    Driver-side byte arithmetic. CAVEAT (honest, not hand-waved): the
    pads ride the compiled plan as literals and are KEY-EQUIVALENT
    material (XOR with the public constants inverts them) — the key
    stays out of configs/reports/logs BY THIS MODULE, but an
    ``EXPLAIN``/plan dump of a keyed expression must be treated as
    secret-bearing, exactly like any engine that evaluates a keyed
    function near the data."""
    kb = hashlib.sha256(key).digest() if len(key) > _HMAC_BLOCK else key
    kb = kb.ljust(_HMAC_BLOCK, b"\x00")
    return (
        bytes(b ^ 0x36 for b in kb),
        bytes(b ^ 0x5C for b in kb),
    )


def _with_pads(sql: str, key: "str | bytes | None" = None) -> str:
    """``sql`` with the pad placeholders of a keyed strategy filled in
    for the resolved key; text without placeholders is returned as is."""
    if IPAD_HEX not in sql:
        return sql
    ipad, opad = _hmac_pads(_resolve_hmac_key(key))
    return sql.replace(IPAD_HEX, ipad.hex()).replace(OPAD_HEX, opad.hex())


def keyed_hash_sql(expr: str, key: "str | bytes") -> str:
    """The DuckDB/Trino twin of ``HASH_KEYED`` for a given key — what an
    auditor runs to reproduce a HASH_KEYED release."""
    ipad, opad = _hmac_pads(_resolve_hmac_key(key))
    return (
        f"sha256('{opad.hex()}' || "
        f"sha256('{ipad.hex()}' || coalesce(CAST({expr} AS VARCHAR), '')))"
    )


def quote_ident(name: str) -> str:
    """``name`` as a backtick-quoted Spark SQL identifier (an embedded
    backtick doubles). Bare names are not safe even when they look plain:
    ``e-mail`` parses as a subtraction, ``null`` and ``true`` as literals."""
    return "`" + str(name).replace("`", "``") + "`"


def _s(col: str) -> str:
    """``COALESCE(col::text, '')`` — the reference's null-safe stringification."""
    return f"coalesce(CAST({col} AS STRING), '')"


def strategy_sql(strategy: str, col: str, params: dict | None = None) -> str | None:
    """SQL text of one (strategy, column): the switch in ``buildUpdateSql``
    (query-builder.ts:21-51). ``col`` is a quoted identifier (or any SQL
    expression). Returns None for KEEP and unknown strategies: no SET
    clause, the column passes through (query-builder.ts:48-56).

    The keyed strategies carry :data:`IPAD_HEX` / :data:`OPAD_HEX`
    placeholders, never pad material."""
    params = params or {}
    s = (strategy or "KEEP").upper()
    if s == "SET_NULL":
        # T2 — a NULL of the column's own type: Catalyst types the IF by its
        # column branch and folds it to a typed null literal, so the column
        # is never read. Spark's DDL cannot spell every type (an ARRAY with
        # non-null elements), which rules out CAST(NULL AS <type>).
        return f"if(false, {col}, NULL)"
    if s == "REDACT":  # T3 (query-builder.ts:29-30)
        return "'***'"
    if s == "HASH_SHA256":  # T4: the reference's md5-under-that-name quirk
        return f"md5({_s(col)})"
    if s == "HASH_SHA256_REAL":  # what the reference's name promised
        return f"sha2({_s(col)}, 256)"
    if s == "HASH_HMAC":
        # Keyed deterministic masking: RFC 2104 HMAC-SHA256(key, coalesce
        # (col::text, '')) = H((K⊕opad) ∥ H((K⊕ipad) ∥ m)) as two nested
        # sha2(concat(binary, ...)), the inner digest unhex'd back to raw
        # bytes. An un-keyed hash of a low-entropy domain (phone numbers,
        # the reference's own HASH targets, config-generator.ts:11-17) is
        # dictionary-reversible; a keyed one is not, and stays deterministic
        # (same input + key → same token, so joins across tables still work).
        inner = f"sha2(concat(unhex('{IPAD_HEX}'), CAST({_s(col)} AS BINARY)), 256)"
        return f"sha2(concat(unhex('{OPAD_HEX}'), unhex({inner})), 256)"
    if s == "HASH_KEYED":
        # The engine-portable keyed hash: the same nested secret-prefix
        # construction with the pads as HEX TEXT. True RFC 2104 needs the
        # inner digest's raw bytes, which an engine whose sha256 takes only
        # text (DuckDB's) cannot express — so the cross-engine oracle pins
        # this one (keyed_hash_sql is its DuckDB twin), and the stdlib-hmac
        # pytest pins HASH_HMAC.
        return (
            f"sha2(concat('{OPAD_HEX}', "
            f"sha2(concat('{IPAD_HEX}', {_s(col)}), 256)), 256)"
        )
    if s == "TRUNCATE":  # T5 LEFT(coalesce(col::text,''), n) (query-builder.ts:37-42)
        n = int(params.get("n", DEFAULT_TRUNCATE_LENGTH))
        return f"substring({_s(col)}, 1, {n})"
    if s == "EMAIL_FAKE":  # T6 md5(col) || '@example.com' (query-builder.ts:44-45)
        return f"concat(md5({_s(col)}), '@example.com')"
    return None


def strategy_column(
    strategy: str,
    name: str,
    params: dict | None = None,
    key: "str | bytes | None" = None,
) -> Column:
    """One strategy over column ``name`` as a Column: :func:`strategy_sql`
    through ``F.expr``, for callers that put a mask into a select of their
    own. ``key`` overrides the key resolution of the keyed strategies."""
    col = quote_ident(name)
    return F.expr(_with_pads(strategy_sql(strategy, col, params) or col, key))


def mask_sample_preview(col: Column) -> Column:
    """T7 sample masker (``src/pi/patterns.ts:3-9``).

    len<=6 → '***', else first2 + '***' + last2. Implemented with
    length-anchored substring (not negative indices) so the identical SQL runs
    on any ANSI engine.
    """
    s = col.cast("string")
    return F.when(F.length(s) <= 6, F.lit("***")).otherwise(
        F.concat(
            F.substring(s, 1, 2),
            F.lit("***"),
            F.substring(s, F.length(s) - 1, F.lit(2)),
        )
    )


@dataclass(frozen=True)
class NormalizedColumn:
    """Outcome of the type-safety check for one planned column."""

    column: str
    strategy: str
    params: dict = field(default_factory=dict)
    downgraded_from: str | None = None
    reason: str | None = None


def normalize_strategy_for_group(strategy: str, group: TypeGroup) -> tuple[str, str | None]:
    """Type-safety downgrade rule table (``src/executor/executor.ts:45-85``).

    Returns (effective_strategy, downgrade_reason|None):
    - KEEP / SET_NULL always allowed (executor.ts:57)
    - EMAIL_FAKE / REDACT / TRUNCATE require STRING (executor.ts:68-73)
    - HASH allowed on STRING and OTHER only (executor.ts:76-81)
    """
    s = (strategy or "KEEP").upper()
    if s in ALWAYS_ALLOWED:
        return s, None
    if s in STRICT_STRING_ONLY and group != TypeGroup.STRING:
        return "KEEP", f"{s} requires STRING column, got {group.value}"
    if s in HASH_FAMILY and group not in HASH_ALLOWED_GROUPS:
        return "KEEP", f"{s} requires STRING or OTHER column, got {group.value}"
    return s, None


def normalize_columns_for_types(
    planned: list,
    schema: T.StructType,
) -> list[NormalizedColumn]:
    """Per-table type-safety pass over planned columns (executor.ts:45-85).

    ``planned`` is a list of objects with ``.column``, ``.strategy``,
    ``.params`` (duck-typed so the planner IR and raw dicts both work).
    Columns missing from the live schema are dropped with a warning, matching
    the reference's behaviour of only updating existing columns.
    """
    fields = {f.name: f for f in schema.fields}
    out: list[NormalizedColumn] = []
    for pc in planned:
        name = pc["column"] if isinstance(pc, dict) else pc.column
        strat = pc["strategy"] if isinstance(pc, dict) else pc.strategy
        params = (pc.get("params") if isinstance(pc, dict) else getattr(pc, "params", None)) or {}
        f = fields.get(name)
        if f is None:
            log.warning("planned column %r not in live schema — skipping", name)
            continue
        group = group_for_field(f)
        eff, reason = normalize_strategy_for_group(strat, group)
        if reason:
            log.warning("downgrading %s on %s: %s", strat, name, reason)
            out.append(NormalizedColumn(name, eff, params, downgraded_from=strat, reason=reason))
        else:
            out.append(NormalizedColumn(name, eff, params))
    return out


#: set while this thread analyses a projection that holds pad material
_keyed_compile = threading.local()
# PySpark logs an analysis error's SQL fragment to stderr through this
# logger when the exception is raised — for a keyed projection, pad hex.
PySparkLogger.getLogger("SQLQueryContextLogger").addFilter(
    lambda record: not getattr(_keyed_compile, "active", False)
)


def _pad_free(e: Exception) -> Exception:
    """A copy of ``e`` whose message has its pad hex redacted."""
    msg = redact_pad_hex(e)
    if isinstance(e, CapturedException):  # AnalysisException, ParseException, ...
        return type(e)(desc=msg, stackTrace="")
    return RuntimeError(f"{type(e).__name__}: {msg}")


def masked_projection(df, normalized: list[NormalizedColumn]) -> tuple:
    """Build the single SELECT that applies all strategies to one table: one
    ``df.selectExpr`` of :func:`strategy_sql` text, one JVM call.

    Returns ``(masked_df, active_count)``. Non-planned columns pass through
    untouched (the UPDATE-only-touches-SET-columns semantics of
    query-builder.ts:58-61). ``active_count`` counts non-KEEP rewrites; 0 means
    the table would be skipped (query-builder.ts:54-56).

    SET_NULL on a non-nullable StructField raises ``ValueError`` — Spark has no
    constraints, so we emulate the reference's "the DB rejects it" failure mode
    (executor.ts:56, SURVEY.md §7). A keyed strategy without a key raises the
    ``ValueError`` of :func:`_resolve_hmac_key`. The pads of a keyed strategy
    are substituted in memory; an error while analysing such a projection
    leaves here with its pad hex redacted and is not logged by PySpark.
    """
    by_name = {nc.column: nc for nc in normalized}
    exprs = []
    active = 0
    for f in df.schema.fields:
        col = quote_ident(f.name)
        nc = by_name.get(f.name)
        # KEEP and unknown strategies render no SQL: the column passes
        # through without counting as a rewrite — the reference emits no SET
        # clause for them (query-builder.ts:48-56), so a table whose only
        # strategies are unknown is skipped entirely.
        sql = nc and strategy_sql(nc.strategy, col, nc.params)
        if not sql:
            exprs.append(col)
            continue
        if nc.strategy.upper() == "SET_NULL" and not f.nullable:
            raise ValueError(
                f"SET_NULL on non-nullable column {f.name!r} violates schema "
                "(reference lets the DB constraint reject this; we fail the table)"
            )
        exprs.append(f"{sql} AS {col}")
        active += 1
    if not any(IPAD_HEX in e for e in exprs):
        return df.selectExpr(*exprs), active
    keyed = [_with_pads(e) for e in exprs]
    _keyed_compile.active = True
    try:
        return df.selectExpr(*keyed), active
    except Exception as e:
        raise _pad_free(e) from None
    finally:
        _keyed_compile.active = False
