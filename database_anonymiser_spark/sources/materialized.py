"""Incremental materialized aggregates (IVM) over versioned tables
(round 14; min/max + approx-distinct round 15).

A materialized view here is an ordinary versioned table — keyed by the
GROUP BY columns — whose contents equal ``SELECT keys, aggs FROM source
GROUP BY keys`` at a recorded source version, plus a REFRESH operation
that advances it to the source's head by reading ONLY the change feed
of the intervening versions. At 100 TB this is the difference between
re-scanning the table per report and paying O(changed rows): the
classic delta-propagation result for distributive aggregates (Gupta &
Mumick, "Maintenance of Materialized Views", IEEE DE Bulletin 1995;
Delta Lake/DBSQL materialized views ship the same contract).

Supported aggregates:

- ``count(*)``          — +1 per inserted row image, −1 per deleted
- ``count(col)``        — signed count of NON-NULL ``col`` images
- ``sum(expr)``         — signed sum of the expression over images
- ``avg(expr)``         — maintained as (sum, non-null count) hidden
  companions; the visible column is recomputed exactly from them
- ``min(expr)`` / ``max(expr)`` (round 15) — inserts merge closed-form
  (``least``/``greatest``); a DELETION is only dangerous when the
  removed band touches the stored extremum (Gupta-Mumick's
  self-maintainability boundary), and exactly those groups re-derive
  from a file-skipped, semi-joined read of their base rows — never a
  base scan
- ``approx_distinct(expr)`` (round 15; SQL spelling
  ``APPROX_COUNT_DISTINCT``) — a per-group KMV sketch (the k=256
  smallest distinct 60-bit md5-prefix hashes, Bar-Yossef et al. 2002;
  the SAME hash space and estimator as
  ``operators/sketch.py::kmv_distinct``, so the served estimate is
  bit-identical to the batch sketch of the same rows; exact below k).
  Inserts merge closed-form (bottom-k of a union of bottom-k sets is
  the bottom-k of the union — KMV is a monoid under insertion); a
  removed hash forces a group recompute only when it is IN the stored
  sketch (a hash above the k-th minimum can never change the k
  smallest). Exact ``COUNT(DISTINCT ...)`` is the textbook
  non-incrementalizable aggregate — it refuses with this pointer.

The extremum/sketch recompute is SHARED: a group flagged by ANY loss
test re-derives ALL of its min/max/sketch state in one pass over that
group's rows, read at the refresh's pinned target version with the
file prune of the leading group key's range plus an exact semi-join on
the full key (no collect, no base scan). This is the breadth-axis port
of ``operators/ivm.py``'s round-7 bounded extremum-loss recompute and
round-8 KMV maintenance (the round-14 verdict's top_next).

Delta propagation: every change-feed row carries a sign (+1 for
``insert``/``update_postimage``, −1 for ``delete``/
``update_preimage``), the signed contributions aggregate per group —
ONE shuffle over the CHANGES, never the table — and the per-group
deltas MERGE into the view through the native conditional multi-clause
merge: a group whose row count reaches zero deletes, an existing group
updates (addition for the self-maintainable family, closed-form
least/greatest/sketch-union or the bounded recompute for the rest), a
fresh group inserts. The merge is file-skipped on the group-key ranges
like any other merge, and the commit carries the new source watermark
in the SAME atomic commit (the ``meta.properties`` slot — a crash
between "apply deltas" and "record watermark" could otherwise
double-apply on the next refresh).

NULL group keys are refused at create/refresh (the versioned table's
key equality — like any SQL join — never matches NULL; ``coalesce``
the key in the view definition instead, message says so).

Float caveat: ``sum``/``avg`` over DOUBLE columns accumulate
reassociation drift relative to a from-scratch recompute (the same
drift any shuffle reorder produces); use DECIMAL columns where exact
refresh parity matters. Pinned by the equivalence tests with a
tolerance on doubles and exactly on integers. ``min``/``max`` carry
actual data values (no accumulation) and are drift-free.

Relationship to ``operators/ivm.py`` (round 6): that module is the
DEPTH axis of the same delta-propagation family — ONE (group, value)
pair with compaction-segment skipping, null-safe group keys, and a
full-rewrite refresh. This module is the BREADTH axis: arbitrarily
many named aggregates over a multi-column GROUP BY — the shape the SQL
``CREATE MATERIALIZED VIEW`` face needs — maintained through the
native MERGE. Since round 15 both axes carry the full aggregate
family; the loss-recompute rule is the same algorithm in both.

Reference parity note: the reference has no materialized views (its
surface is per-table UPDATE scripts, ``src/executor/executor.ts``);
this module is part of the engine's storage north star, cited against
Delta's materialized-view semantics.
"""

from __future__ import annotations

import json
import re

from pyspark.sql import functions as F

__all__ = [
    "apply_changes_frame",
    "create_materialized",
    "refresh_materialized",
    "materialized_info",
    "parse_mv_query",
]

#: hidden per-avg companion suffixes (sum / non-null count)
_S = "__ivm_s"
_N = "__ivm_n"
#: hidden per-approx-distinct KMV sketch companion suffix
_K = "__ivm_kmv"
#: hidden group-liveness row count
_CNT = "__ivm_cnt"

_AGG_SHAPES = ("count", "sum", "avg", "min", "max", "approx_distinct")
#: kinds that are NOT self-maintainable under deletes (loss → bounded
#: recompute of the affected groups)
_LOSS_KINDS = ("min", "max", "approx_distinct")

#: KMV sketch size — exact below this many distinct values; the same k
#: as the batch sketch default so estimates are comparable
_KMV_K = 256
_EMPTY_ARR = "CAST(array() AS ARRAY<BIGINT>)"
#: the ONE sketch-array type everywhere (nullable elements — matching
#: the SQL CAST renderings; element nullability can widen but never
#: narrow through a cast, so every producer normalizes to this)
from pyspark.sql import types as _T  # noqa: E402

_SK_TYPE = _T.ArrayType(_T.LongType(), True)

_INS_SQL = "_change_type IN ('insert', 'update_postimage')"


def _validate_aggs(aggs: dict) -> dict:
    """Normalize {out_col: (kind, expr|None)}; refuse unsupported kinds."""
    out = {}
    for col, spec in aggs.items():
        kind, expr = spec
        kind = kind.lower()
        if kind not in _AGG_SHAPES:
            raise ValueError(
                f"unsupported aggregate {kind!r}; supported: "
                f"count(*) | count(expr) | sum(expr) | avg(expr) | "
                f"min(expr) | max(expr) | approx_distinct(expr)"
            )
        if kind == "count" and expr is not None and expr.strip() == "*":
            expr = None
        if kind != "count" and not (
            expr and expr.strip() and expr.strip() != "*"
        ):
            raise ValueError(f"{kind}() needs an expression")
        out[col] = (kind, expr.strip() if expr else None)
    return out


def _signed(expr: str) -> str:
    """Signed contribution of one change-feed row image."""
    return f"CASE WHEN {_INS_SQL} THEN ({expr}) ELSE -({expr}) END"


def _hv(expr: str):
    """The KMV hash column: 60-bit md5 prefix of the stringified value —
    the SAME construction as sketch.py::kmv_distinct and
    operators/ivm.py, so estimates are bit-comparable engine-wide. NULL
    values hash to NULL and fall out of collect_set (count-distinct
    semantics for free)."""
    return F.conv(
        F.substring(F.md5(F.expr(expr).cast("string")), 1, 15), 16, 10
    ).cast("long")


def _mark_kmv(df, keys: list, hv_col, out: str):
    """Bound the per-group KMV candidate set BEFORE any collect_set sees
    it: a row whose hash is not among its (group, hash%64) bucket's k
    smallest DISTINCT values gets a NULL ``out`` and falls out of
    collect_set, so no aggregation buffer ever holds more than 64·k
    hashes per group regardless of group cardinality. dense_rank (not
    row_number) so duplicate rows of a kept value never evict a distinct
    candidate; bottom-k of the 64 bucket-wise bottom-k sets is the exact
    global bottom-k because each global winner wins its own bucket
    (operators/ivm.py::_mark_bottom_k, generalized to composite keys)."""
    from pyspark.sql import Window

    h = out + "_h"
    df = df.withColumn(h, hv_col)
    w = Window.partitionBy(
        *[F.col(c) for c in keys], F.pmod(F.col(h), F.lit(64))
    ).orderBy(F.col(h).asc_nulls_last())
    return df.withColumn(
        out, F.when(F.dense_rank().over(w) <= _KMV_K, F.col(h))
    ).drop(h)


def _est_col(sk):
    """KMV estimate Column from a sketch-array Column: exact size below
    k, else (k-1)·2⁶⁰ / h(k) — the estimator of sketch.py::kmv_distinct
    (try_divide covers the p≈2⁻⁶⁰ all-zero-prefix degenerate)."""
    sz = F.size(F.coalesce(sk, F.expr(_EMPTY_ARR)))
    return F.when(sz < _KMV_K, sz.cast("double")).otherwise(
        F.round(
            F.try_divide(
                F.lit(float((_KMV_K - 1) * 2**60)), F.element_at(sk, _KMV_K)
            ),
            6,
        )
    )


def _est_sql(arr: str) -> str:
    """The same estimator as :func:`_est_col`, rendered as a SQL string
    for merge SET/INSERT expressions."""
    a = f"coalesce({arr}, {_EMPTY_ARR})"
    return (
        f"CASE WHEN size({a}) < {_KMV_K} THEN CAST(size({a}) AS DOUBLE) "
        f"ELSE round(try_divide(CAST({float((_KMV_K - 1) * 2**60)} AS "
        f"DOUBLE), element_at({a}, {_KMV_K})), 6) END"
    )


def _delta_frame(changes, keys: list, aggs: dict):
    """Per-group deltas over a change feed slice — one shuffle over the
    CHANGES only. Returns columns: keys + d<cnt> + per-aggregate slots:
    signed sums for the self-maintainable family; insert/removed
    extremum bands ``d_<col>__i``/``d_<col>__r`` for min/max; bottom-k
    insert/removed hash arrays for approx_distinct (the removed band is
    the LOSS TEST input — downward-closed vs the stored sketch, so
    bottom-k preserves arrays_overlap exactly)."""
    df = changes
    ins = F.expr(_INS_SQL)
    aggcols = [
        F.sum(F.expr(_signed("1")).cast("long")).alias("d" + _CNT)
    ]
    for col, (kind, expr) in aggs.items():
        if kind == "count":
            e = (
                _signed(f"CASE WHEN ({expr}) IS NOT NULL THEN 1 ELSE 0 END")
                if expr is not None
                else _signed("1")
            )
            aggcols.append(
                F.sum(F.expr(e).cast("long")).alias(f"d_{col}")
            )
        elif kind == "sum":
            aggcols.append(
                F.sum(
                    F.expr(_signed(f"coalesce(CAST(({expr}) AS DOUBLE), 0.0)"))
                ).alias(f"d_{col}")
            )
        elif kind == "avg":
            aggcols.append(
                F.sum(
                    F.expr(_signed(f"coalesce(CAST(({expr}) AS DOUBLE), 0.0)"))
                ).alias(f"d_{col}{_S}")
            )
            aggcols.append(
                F.sum(
                    F.expr(
                        _signed(
                            f"CASE WHEN ({expr}) IS NOT NULL THEN 1 ELSE 0 END"
                        )
                    ).cast("long")
                ).alias(f"d_{col}{_N}")
            )
        elif kind in ("min", "max"):
            fn = F.min if kind == "min" else F.max
            v = F.expr(expr)
            aggcols.append(fn(F.when(ins, v)).alias(f"d_{col}__i"))
            aggcols.append(fn(F.when(~ins, v)).alias(f"d_{col}__r"))
        else:  # approx_distinct
            df = _mark_kmv(df, keys, F.when(ins, _hv(expr)), f"_ci_{col}")
            df = _mark_kmv(df, keys, F.when(~ins, _hv(expr)), f"_cr_{col}")
            aggcols.append(
                F.slice(
                    F.array_sort(F.collect_set(f"_ci_{col}")), 1, _KMV_K
                ).cast(_SK_TYPE).alias(f"d_{col}__i")
            )
            aggcols.append(
                F.slice(
                    F.array_sort(F.collect_set(f"_cr_{col}")), 1, _KMV_K
                ).cast(_SK_TYPE).alias(f"d_{col}__r")
            )
    return df.groupBy(*keys).agg(*aggcols)


def _full_frame(src_df, keys: list, aggs: dict):
    """The from-scratch aggregate with the MV's physical schema (used at
    create; also what every refresh must stay equal to — the tests'
    oracle)."""
    df = src_df
    for col, (kind, expr) in aggs.items():
        if kind == "approx_distinct":
            df = _mark_kmv(df, keys, _hv(expr), f"_c_{col}")
    cols = [F.count(F.lit(1)).alias(_CNT)]
    for col, (kind, expr) in aggs.items():
        if kind == "count":
            cols.append(
                F.count(F.expr(expr)).alias(col)
                if expr is not None
                else F.count(F.lit(1)).alias(col)
            )
        elif kind == "sum":
            cols.append(
                F.sum(F.expr(f"CAST(({expr}) AS DOUBLE)")).alias(col)
            )
        elif kind == "avg":  # visible col + hidden (sum, n)
            cols.append(F.avg(F.expr(f"CAST(({expr}) AS DOUBLE)")).alias(col))
            cols.append(
                F.sum(F.expr(f"CAST(({expr}) AS DOUBLE)")).alias(f"{col}{_S}")
            )
            cols.append(F.count(F.expr(expr)).alias(f"{col}{_N}"))
        elif kind == "min":
            cols.append(F.min(F.expr(expr)).alias(col))
        elif kind == "max":
            cols.append(F.max(F.expr(expr)).alias(col))
        else:  # approx_distinct: hidden sketch; visible estimate below
            cols.append(
                F.slice(
                    F.array_sort(F.collect_set(f"_c_{col}")), 1, _KMV_K
                ).alias(f"{col}{_K}")
            )
    out = df.groupBy(*keys).agg(*cols)
    # sum over an all-NULL group is NULL; the merge arithmetic wants 0
    # with the visible NULL derived from n = 0
    fixes = {}
    for col, (kind, expr) in aggs.items():
        if kind == "sum":
            fixes[col] = F.coalesce(F.col(col), F.lit(0.0))
        elif kind == "avg":
            fixes[f"{col}{_S}"] = F.coalesce(F.col(f"{col}{_S}"), F.lit(0.0))
        elif kind == "approx_distinct":
            fixes[col] = _est_col(F.col(f"{col}{_K}"))
            # normalize the LOGGED sketch type to nullable elements: the
            # merge's CASE expressions mix collect_set output
            # (containsNull=false) with CAST(array()...) SQL renderings
            # (containsNull=true), and an array cast can never NARROW
            # element nullability — one containment everywhere or the
            # refresh's cast refuses (round-15 fix)
            fixes[f"{col}{_K}"] = F.col(f"{col}{_K}").cast(_SK_TYPE)
    for c, e in fixes.items():
        out = out.withColumn(c, e)
    return out


#: functions whose value depends on WHEN/WHERE a row is evaluated, not
#: on the row itself — a filter using one silently diverges the view
#: from its definition (create evaluates it once over the snapshot;
#: refresh re-evaluates it only over CHANGED rows, so unchanged rows
#: never age in or out). Blocklisted loudly instead (round-15 review).
_NON_ROW_LOCAL = frozenset({
    "current_date", "current_timestamp", "current_time", "localtimestamp",
    "now", "curdate", "current_timezone", "rand", "randn", "random",
    "randstr", "uniform", "uuid", "shuffle", "monotonically_increasing_id",
    "input_file_name", "input_file_block_start", "input_file_block_length",
    "spark_partition_id",
})
#: the time functions Spark's grammar also takes as a bare name: parsed
#: as an attribute, or (ANSI reserved keywords) as one of these nodes
_BARE_TIME = frozenset({
    "current_date", "current_timestamp", "current_time", "localtimestamp",
})
_TIME_NODES = frozenset({
    "CurrentDate", "CurrentTimestamp", "CurrentTime", "LocalTimestamp", "Now",
})


def _check_row_local(filt):
    """Refuse a parsed filter that calls a function of the clock or of
    randomness — read from its function nodes, never its text (a string
    literal ``'now'`` calls nothing)."""
    for n, _ in filt.walk():
        if n.kind == "UnresolvedFunction":
            name = n.parts[-1].lower()
            # unix_timestamp() reads the clock; unix_timestamp(col) does not
            bad = name in _NON_ROW_LOCAL or (name == "unix_timestamp" and not n.kids)
        elif n.kind == "UnresolvedAttribute":
            name = ".".join(n.parts).lower()
            bad = name in _BARE_TIME
        else:
            name, bad = n.kind, n.kind in _TIME_NODES
        if bad:
            raise ValueError(
                f"materialized-view filter uses {name!r}"
                " — a filter must be ROW-LOCAL and deterministic (its value "
                "may depend only on the row): time- or randomness-dependent "
                "predicates would silently diverge the view from its "
                "definition, because refresh re-evaluates the filter only "
                "over CHANGED rows (unchanged rows never age in or out). "
                "Materialize the moving window downstream of the view, or "
                "filter on a data column"
            )


def _check_no_null_keys(df, keys: list, where: str):
    null_pred = " OR ".join(f"{k} IS NULL" for k in keys)
    if df.where(null_pred).limit(1).count():
        raise ValueError(
            f"NULL group-key value in {where}: the view's key-equality "
            "merge (like any SQL join) never matches NULL — coalesce "
            "the key in the view definition, e.g. "
            f"GROUP BY coalesce({keys[0]}, <sentinel>)"
        )


def create_materialized(
    spark, mv_root, source_root, keys, aggs: dict,
    filter_sql: "str | None" = None,
):
    """Create the materialized view: ONE full aggregate scan of the
    source's current snapshot into a fresh versioned table keyed by the
    group columns, with the IVM contract (source root, keys, aggregate
    specs, source watermark, optional filter) folded INTO the create
    commit itself (round 15: one atomic commit — a crash can never
    leave a table that exists without its contract). Returns the
    :class:`VersionedTable`.

    ``aggs``: ``{out_col: (kind, expr|None)}`` with kind ∈ count | sum
    | avg | min | max | approx_distinct.

    ``filter_sql`` (round 15): a ROW-LOCAL source predicate — the view
    equals ``SELECT keys, aggs FROM source WHERE filter GROUP BY keys``.
    Delta propagation stays exact because the filter commutes with the
    change feed: a change row's membership in the view's scope depends
    only on its own image, so filtering each feed image BEFORE the
    signed delta is precisely the algebra of the filtered view — a row
    UPDATED across the predicate boundary renders as a bare insert
    (entered scope) or bare delete (left scope), and the loss-aggregate
    recompute applies the same filter to its bounded source read. NULLs
    in the predicate drop the row (SQL WHERE semantics), on images and
    recomputes alike.
    """
    from database_anonymiser_spark.sources.versioned import VersionedTable

    keys = list(keys)
    aggs = _validate_aggs(dict(aggs))
    reserved = {_CNT} | {
        f"{c}{suf}" for c in aggs for suf in (_S, _N, _K)
    }
    if set(keys) & set(aggs):
        raise ValueError("a column cannot be both a group key and an aggregate")
    if reserved & set(aggs) or any(k in reserved for k in keys):
        raise ValueError(f"column names {sorted(reserved)} are reserved")
    src = VersionedTable(spark, source_root)
    src_v = src.latest_version()
    snap = src.snapshot(src_v)
    if filter_sql:
        from database_anonymiser_spark.sql_dml import _parse

        _check_row_local(_parse(filter_sql, expression=True))
        snap = snap.where(F.expr(filter_sql))
    _check_no_null_keys(snap.select(*keys), keys, "the source snapshot")
    mv_df = _full_frame(snap, keys, aggs)
    return VersionedTable.create(
        spark, mv_root, mv_df,
        key_col=keys[0] if len(keys) == 1 else keys,
        properties={
            "ivm.source": str(src.root),
            "ivm.keys": json.dumps(keys),
            "ivm.aggs": json.dumps({c: list(s) for c, s in aggs.items()}),
            "ivm.last_version": str(src_v),
            **({"ivm.filter": filter_sql} if filter_sql else {}),
        },
    )


def materialized_info(mv) -> dict:
    """The IVM contract recorded on a materialized table; raises for a
    plain table."""
    props = mv.detail()["properties"]
    if "ivm.source" not in props:
        raise ValueError(
            f"{mv.root} is not a materialized view (no ivm.* properties)"
        )
    return {
        "source": props["ivm.source"],
        "keys": json.loads(props["ivm.keys"]),
        "aggs": {
            c: tuple(s) for c, s in json.loads(props["ivm.aggs"]).items()
        },
        "last_version": int(props["ivm.last_version"]),
        "filter": props.get("ivm.filter"),
    }


def _null_rc(j, aggs: dict):
    """Attach constant-NULL ``rc_<col>`` slots (typed to match the real
    recompute columns) so the merge's CASE expressions bind either
    way."""
    for col, (kind, expr) in aggs.items():
        if kind in ("min", "max"):
            j = j.withColumn(
                f"rc_{col}",
                F.lit(None).cast(j.schema[f"d_{col}__i"].dataType),
            )
        elif kind == "approx_distinct":
            j = j.withColumn(f"rc_{col}", F.lit(None).cast(_SK_TYPE))
    return j


def _attach_recompute(mv, src, delta, keys: list, aggs: dict, to_v: int,
                      filter_sql=None):
    """Join the delta against the view's stored loss state, flag the
    groups whose removals can actually change non-self-maintainable
    state, and — for exactly those groups — re-derive min/max/sketch
    from a file-skipped, semi-joined read of the source at the PINNED
    target version. Returns (delta2, recomputed_group_count) where
    delta2 carries ``_ivm_rec`` + typed ``rc_<col>`` columns ready for
    the merge's CASE expressions.

    Loss tests (per aggregate, OR'd into one shared flag — a group
    flagged by ANY re-derives ALL its loss state in the one read):

    - min: a removed value ≤ the stored minimum (or the stored slot is
      NULL — group unknown/all-NULL: recompute to be safe)
    - max: a removed value ≥ the stored maximum (sym.)
    - approx_distinct: a removed hash is IN the stored sketch — exact,
      because the stored sketch is downward-closed over the group's
      hashes ({h ≤ θ}) and every removed row existed at the interval
      start, so the bottom-k removed band preserves arrays_overlap

    Groups whose row count reaches zero delete in the merge and never
    flag; fresh groups are insert-only and merge closed-form.

    Insert-only fast path (round-15 review fix): when NO group's delta
    carries a removed band — the common append-only case — no loss
    flag can ever be true, so the view-snapshot join, checkpoint and
    count are all skipped; the delta just gains a constant-false flag
    and typed-NULL recompute slots. One delta-sized existence probe
    decides it; the advertised O(changes) refresh cost holds for
    appends."""
    rem_terms = []
    for col, (kind, expr) in aggs.items():
        if kind in ("min", "max"):
            rem_terms.append(F.col(f"d_{col}__r").isNotNull())
        elif kind == "approx_distinct":
            rem_terms.append(
                F.size(
                    F.coalesce(F.col(f"d_{col}__r"), F.expr(_EMPTY_ARR))
                )
                > 0
            )
    any_rem = rem_terms[0]
    for t in rem_terms[1:]:
        any_rem = any_rem | t
    if delta.where(any_rem).limit(1).count() == 0:
        return (
            _null_rc(delta.withColumn("_ivm_rec", F.lit(False)), aggs),
            0,
        )
    stored = []
    for col, (kind, expr) in aggs.items():
        if kind in ("min", "max"):
            stored.append(col)
        elif kind == "approx_distinct":
            stored.append(f"{col}{_K}")
    cur = mv.snapshot().select(
        *keys,
        F.col(_CNT).alias(f"t_{_CNT}"),
        *[F.col(c).alias(f"t_{c}") for c in stored],
    )
    j = delta.join(cur, on=list(keys), how="left")
    survives = (
        F.coalesce(F.col(f"t_{_CNT}"), F.lit(0)) + F.col("d" + _CNT)
    ) > 0
    terms = []
    for col, (kind, expr) in aggs.items():
        if kind == "min":
            terms.append(
                F.col(f"d_{col}__r").isNotNull()
                & (
                    F.col(f"t_{col}").isNull()
                    | (F.col(f"d_{col}__r") <= F.col(f"t_{col}"))
                )
            )
        elif kind == "max":
            terms.append(
                F.col(f"d_{col}__r").isNotNull()
                & (
                    F.col(f"t_{col}").isNull()
                    | (F.col(f"d_{col}__r") >= F.col(f"t_{col}"))
                )
            )
        elif kind == "approx_distinct":
            sk = f"t_{col}{_K}"
            terms.append(
                (
                    F.size(
                        F.coalesce(F.col(f"d_{col}__r"), F.expr(_EMPTY_ARR))
                    )
                    > 0
                )
                & (
                    F.col(sk).isNull()
                    | F.arrays_overlap(F.col(f"d_{col}__r"), F.col(sk))
                )
            )
    flag = terms[0]
    for t in terms[1:]:
        flag = flag | t
    j = j.withColumn(
        "_ivm_rec", F.coalesce(survives & flag, F.lit(False))
    ).drop(f"t_{_CNT}", *[f"t_{c}" for c in stored])
    # delta-sized (one row per changed group) — checkpoint bounds the
    # double consumption (recompute branch + the merge's join)
    j = j.localCheckpoint(eager=True)
    rgroups = j.where("_ivm_rec").select(*keys)
    n_rec = rgroups.count()
    if n_rec == 0:
        return _null_rc(j, aggs), 0
    # file-skipped read of just the affected groups' rows at the PINNED
    # refresh target: range-prune on the LEADING group key (one tiny
    # bounds agg over the flagged groups), exact membership by semi-join
    # on the full key — distributed, no collect of the group set. NULL
    # keys are refused at create/refresh, so plain equality is exact.
    lead = keys[0]
    b = rgroups.agg(F.min(lead).alias("lo"), F.max(lead).alias("hi")).first()
    based = src.read_where({lead: (b["lo"], b["hi"])}, version=to_v)
    if filter_sql:
        # the recompute must see exactly the FILTERED view's rows
        based = based.where(F.expr(filter_sql))
    rg = rgroups
    for k_ in keys:
        rg = rg.withColumnRenamed(k_, f"_rg_{k_}")
    cond = None
    for k_ in keys:
        c = F.col(k_) == F.col(f"_rg_{k_}")
        cond = c if cond is None else (cond & c)
    affected = based.join(rg, cond, "left_semi")
    rec_aggs = []
    for col, (kind, expr) in aggs.items():
        if kind == "min":
            rec_aggs.append(F.min(F.expr(expr)).alias(f"rc_{col}"))
        elif kind == "max":
            rec_aggs.append(F.max(F.expr(expr)).alias(f"rc_{col}"))
        elif kind == "approx_distinct":
            affected = _mark_kmv(affected, keys, _hv(expr), f"_c_{col}")
            rec_aggs.append(
                F.slice(
                    F.array_sort(F.collect_set(f"_c_{col}")), 1, _KMV_K
                ).cast(_SK_TYPE).alias(f"rc_{col}")
            )
    rec = affected.groupBy(*keys).agg(*rec_aggs)
    return j.join(rec, on=list(keys), how="left"), int(n_rec)


def refresh_target(last: int, head: int, to_version: int | None) -> int:
    """The version a refresh advances to: the source head, or a pinned
    ``to_version`` inside [watermark, head] (refused outside it)."""
    if to_version is None:
        return head
    if not last <= to_version <= head:
        raise ValueError(
            f"refresh to_version {to_version} is outside "
            f"[watermark {last}, source head {head}]"
        )
    return to_version


def refresh_materialized(spark, mv_root, to_version: int | None = None) -> dict:
    """Advance the view to the source's head (or a PINNED
    ``to_version``) by delta propagation: read the source change feed
    for (last_version, target], aggregate the signed contributions per
    group (one shuffle over the CHANGES), and MERGE the deltas in —
    groups reaching zero rows delete, existing groups update (addition
    / closed-form least-greatest-sketch-union / bounded loss
    recompute), fresh groups insert. The source watermark advances IN
    the merge commit (atomic: a crash can never double-apply). Returns
    ``{"refreshed": bool, "from_version", "to_version",
    "groups_changed"[, "recomputed_groups"]}``.

    Scale shape: cost is O(changed rows) + a merge file-skipped on the
    group-key range of the delta + (loss aggregates only) a read
    bounded to the FLAGGED groups' files — a trickle of changes against
    a 100 TB source refreshes in seconds regardless of table size.
    """
    from database_anonymiser_spark.sources.versioned import VersionedTable

    mv = VersionedTable(spark, mv_root)
    info = materialized_info(mv)
    src = VersionedTable(spark, info["source"])
    keys, aggs = info["keys"], _validate_aggs(info["aggs"])
    last = info["last_version"]
    head = src.latest_version()
    to_version = refresh_target(last, head, to_version)
    if to_version == last:
        return {"refreshed": False, "from_version": last,
                "to_version": to_version, "groups_changed": 0}
    if head < last:
        raise ValueError(
            f"source head {head} is BELOW the recorded watermark {last} "
            "(the source history was rewritten?); rebuild the view"
        )
    changes = src.diff(last, to_version, images="both")
    return _apply_delta_merge(
        mv, src, keys, aggs, changes, last, to_version,
        filter_sql=info.get("filter"),
    )


def _net_changes(changes, table_keys: list, data_cols: list):
    """Collapse a multi-commit CDF slice to its NET endpoint change set
    (round-15 review fix): ``VersionedTable.diff`` is an endpoint diff,
    but a streaming batch carries PER-COMMIT events — a row inserted in
    commit A and deleted in commit B of the same batch must contribute
    NOTHING, an extremum inserted-then-deleted must never enter the
    closed-form least/greatest or sketch union, and the loss test's
    soundness argument ("every removed row existed at the interval
    start") only holds for net sets. One shuffle over the BATCH, keyed
    on the source table key: per key, the earliest event's image is the
    pre-state (when the key existed at the interval start) and the
    latest event's image is the post-state (when it exists at the end);
    born-and-died keys vanish, everything else renders as delete /
    insert / pre+post pairs — exactly the endpoint-diff vocabulary the
    delta algebra is proven against."""
    # within a commit a key emits at most (pre, post): order pre-images
    # and deletes before inserts and post-images
    ordv = (
        F.col("_commit_version").cast("long") * 2
        + F.when(
            F.col("_change_type").isin("insert", "update_postimage"), 1
        ).otherwise(0)
    )
    img = F.struct(F.col("_change_type"), *[F.col(c) for c in data_cols])
    g = changes.groupBy(*table_keys).agg(
        F.min_by(img, ordv).alias("_first"),
        F.max_by(img, ordv).alias("_last"),
    )
    pre = (
        g.where(
            F.col("_first._change_type").isin("update_preimage", "delete")
        )
        .select(
            F.lit("delete").alias("_change_type"),
            *[F.col(f"_first.{c}").alias(c) for c in data_cols],
        )
    )
    post = (
        g.where(
            F.col("_last._change_type").isin("insert", "update_postimage")
        )
        .select(
            F.lit("insert").alias("_change_type"),
            *[F.col(f"_last.{c}").alias(c) for c in data_cols],
        )
    )
    return pre.unionByName(post)


def apply_changes_frame(spark, mv_root, changes, to_version: int) -> dict:
    """Row-level refresh (round 15): apply an EXTERNALLY-SUPPLIED slice
    of the source change feed covering exactly (watermark, to_version]
    — the streaming fast path. Where :func:`refresh_materialized`
    re-reads the interval from the log (``diff``), this trusts the rows
    the caller already holds (a micro-batch of the engine's streaming
    CDF, whose offsets are commit-granular — see
    ``streaming/pipeline.py::run_stream_materialize``), so a tick costs
    ZERO source-log data reads for the self-maintainable aggregate
    family. The caller owns the contiguity argument: every
    data-changing commit in (watermark, to_version] must be present in
    ``changes`` with both update images (``_change_type`` ∈ insert /
    delete / update_preimage / update_postimage). Rows at or below the
    watermark must already be filtered out (at-least-once replay).
    The watermark advances inside the delta-merge commit, atomically,
    exactly as the log-based path."""
    from database_anonymiser_spark.sources.versioned import VersionedTable

    mv = VersionedTable(spark, mv_root)
    info = materialized_info(mv)
    src = VersionedTable(spark, info["source"])
    keys, aggs = info["keys"], _validate_aggs(info["aggs"])
    last = info["last_version"]
    head = src.latest_version()
    if to_version <= last:
        return {"refreshed": False, "from_version": last,
                "to_version": last, "groups_changed": 0}
    if to_version > head:
        raise ValueError(
            f"apply_changes_frame to_version {to_version} is beyond the "
            f"source head {head}"
        )
    if any(k in _LOSS_KINDS for k, e in aggs.values()):
        # loss aggregates are only sound against a NET change set (see
        # _net_changes) — a batch spanning several commits carries
        # intra-interval churn that the signed count/sum arithmetic
        # cancels but least/greatest/sketch-union would absorb
        table_keys = list(src.key_cols())
        data_cols = [
            c for c in changes.columns
            if c not in ("_change_type", "_commit_version",
                         "_commit_timestamp")
        ]
        changes = _net_changes(changes, table_keys, data_cols)
    return _apply_delta_merge(
        mv, src, keys, aggs, changes, last, to_version,
        filter_sql=info.get("filter"),
    )


def _apply_delta_merge(mv, src, keys, aggs, changes, last, to_version,
                       filter_sql=None) -> dict:
    """The shared delta→merge tail of both refresh faces: aggregate the
    change rows to per-group deltas (one shuffle over the CHANGES),
    bound-recompute the loss aggregates, and land ONE merge commit
    carrying the new watermark."""
    if filter_sql:
        # a filtered view sees only in-scope images: WHERE commutes with
        # the feed (row-local), so filtering each image IS the filtered
        # view's delta algebra — boundary-crossing updates render as
        # bare inserts/deletes (create_materialized docstring)
        changes = changes.where(F.expr(filter_sql))
    _check_no_null_keys(
        changes.select(*keys), keys, f"source changes {last}..{to_version}"
    )
    # persist: the delta is consumed twice (group count for the no-op
    # path/report, then the merge's join) — without it the change-feed
    # diff recomputes per consumer
    delta = _delta_frame(changes, keys, aggs).persist()
    n_groups = delta.count()
    new_props = {
        **{k: v for k, v in mv._raw_properties().items()},
        "ivm.last_version": str(to_version),
    }
    if n_groups == 0:
        # nothing to merge: advance the watermark as its own commit
        delta.unpersist()
        mv.set_properties({"ivm.last_version": str(to_version)})
        return {"refreshed": True, "from_version": last,
                "to_version": to_version, "groups_changed": 0}

    loss = {c for c, (k, e) in aggs.items() if k in _LOSS_KINDS}
    n_rec = 0
    merge_src = delta
    if loss:
        merge_src, n_rec = _attach_recompute(
            mv, src, delta, keys, aggs, to_version, filter_sql=filter_sql
        )

    # merge SET exprs: self-maintainable slots update by addition;
    # visible avg recomputes exactly from its companions; min/max merge
    # closed-form or take the bounded recompute; the sketch unions
    # closed-form or takes the recompute, its visible estimate derived
    # either way
    set_exprs = {_CNT: f"t.{_CNT} + s.d{_CNT}"}
    ins_exprs = {_CNT: f"s.d{_CNT}"}
    for k in keys:
        ins_exprs[k] = f"s.{k}"
    for col, (kind, expr) in aggs.items():
        if kind in ("count", "sum"):
            z = "0L" if kind == "count" else "CAST(0.0 AS DOUBLE)"
            set_exprs[col] = f"coalesce(t.{col}, {z}) + s.d_{col}"
            ins_exprs[col] = f"s.d_{col}"
        elif kind == "avg":
            s_, n_ = f"{col}{_S}", f"{col}{_N}"
            set_exprs[s_] = f"t.{s_} + s.d_{s_}"
            set_exprs[n_] = f"t.{n_} + s.d_{n_}"
            set_exprs[col] = (
                f"CASE WHEN t.{n_} + s.d_{n_} > 0 "
                f"THEN (t.{s_} + s.d_{s_}) / (t.{n_} + s.d_{n_}) END"
            )
            ins_exprs[s_] = f"s.d_{s_}"
            ins_exprs[n_] = f"s.d_{n_}"
            ins_exprs[col] = (
                f"CASE WHEN s.d_{n_} > 0 THEN s.d_{s_} / s.d_{n_} END"
            )
        elif kind in ("min", "max"):
            fn = "least" if kind == "min" else "greatest"
            set_exprs[col] = (
                f"CASE WHEN s._ivm_rec THEN s.rc_{col} "
                f"ELSE {fn}(t.{col}, s.d_{col}__i) END"
            )
            # a NET change set makes fresh groups insert-only (rem band
            # empty, never flagged) — but honor a flag defensively: the
            # recompute value is authoritative whenever it was computed
            # (round-15 review fix: the insert path ignored rc_)
            ins_exprs[col] = (
                f"CASE WHEN s._ivm_rec THEN s.rc_{col} "
                f"ELSE s.d_{col}__i END"
            )
        else:  # approx_distinct
            sk = f"{col}{_K}"
            closed = (
                f"slice(array_sort(array_distinct(concat("
                f"coalesce(t.{sk}, {_EMPTY_ARR}), "
                f"coalesce(s.d_{col}__i, {_EMPTY_ARR})))), 1, {_KMV_K})"
            )
            set_exprs[sk] = (
                f"CASE WHEN s._ivm_rec THEN s.rc_{col} ELSE {closed} END"
            )
            set_exprs[col] = (
                f"CASE WHEN s._ivm_rec THEN {_est_sql(f's.rc_{col}')} "
                f"ELSE {_est_sql(closed)} END"
            )
            ins_exprs[sk] = (
                f"CASE WHEN s._ivm_rec THEN s.rc_{col} "
                f"ELSE coalesce(s.d_{col}__i, {_EMPTY_ARR}) END"
            )
            ins_exprs[col] = (
                f"CASE WHEN s._ivm_rec THEN {_est_sql(f's.rc_{col}')} "
                f"ELSE {_est_sql(f's.d_{col}__i')} END"
            )
    mv.merge(
        merge_src,
        matched=[
            ("delete", f"t.{_CNT} + s.d{_CNT} <= 0"),
            ("update", None, set_exprs),
        ],
        not_matched=[("insert", f"s.d{_CNT} > 0", ins_exprs)],
        # the watermark rides the SAME commit as the deltas: atomic
        meta={"properties": new_props},
    )
    delta.unpersist()
    out = {"refreshed": True, "from_version": last,
           "to_version": to_version, "groups_changed": int(n_groups)}
    if loss:
        out["recomputed_groups"] = n_rec
    return out


# --------------------------------------------------------------------------
# SQL shape: CREATE MATERIALIZED VIEW ... AS SELECT keys, aggs FROM src
#            GROUP BY keys
# --------------------------------------------------------------------------

#: the SQL aggregates the refresh algebra maintains (SQL name → kind)
_SQL_AGGS = {"count": "count", "sum": "sum", "avg": "avg", "min": "min",
             "max": "max", "approx_count_distinct": "approx_distinct"}
#: a name the view's SQL renders unquoted (group keys, output columns)
_NAME = re.compile(r"[A-Za-z_][\w$]*")


def parse_mv_query(select_sql: str) -> tuple[str, list, dict, "str | None"]:
    """Parse the restricted MV SELECT shape into (source_view, keys,
    aggs, filter_sql), reading Spark's parse of it: an Aggregate over
    one view, optionally under a row-local ``WHERE <pred>`` (round 15 —
    the filtered-view shape). Every select item is either a bare
    group-key column or ``count(*)|count(e)|sum(e)|avg(e)|min(e)|
    max(e)|approx_count_distinct(e) AS name``; GROUP BY lists the key
    columns. Expressions and the filter keep the text the user wrote.
    Anything else refuses with the shape — a materialized view's
    refresh algebra only exists for this family, so the parser only
    claims it."""
    from database_anonymiser_spark.sql_dml import SqlDmlError, _parse, _render, _seq

    shape_err = ValueError(
        "materialized view query must be: SELECT <keys and "
        "count/sum/avg/min/max/approx_count_distinct aggregates> "
        "FROM <view> [WHERE <row-local pred>] GROUP BY <keys>"
    )
    try:
        plan = _parse(select_sql)
    except SqlDmlError:
        raise shape_err from None
    src = plan.at(plan.j.child()) if plan.kind == "Aggregate" else plan
    filt = None
    if src.kind == "Filter":
        filt, src = src.at(src.j.condition()), src.at(src.j.child())
    if plan.kind != "Aggregate" or src.kind != "UnresolvedRelation":
        raise shape_err
    keys = [plan.at(g) for g in _seq(plan.j.groupingExpressions())]
    if not all(
        g.kind == "UnresolvedAttribute" and len(g.parts) == 1
        and _NAME.fullmatch(g.parts[0]) for g in keys
    ):
        raise ValueError(
            "GROUP BY items must be plain columns (coalesce/derive them "
            "in a source view first)"
        )
    keys = [g.parts[0] for g in keys]
    aggs: dict = {}
    seen_keys = []
    for item in (plan.at(e) for e in _seq(plan.j.aggregateExpressions())):
        if item.kind == "UnresolvedAttribute" and len(item.parts) == 1:
            seen_keys.append(item.parts[0])
            continue
        fn = item.at(item.j.child()) if item.kind == "Alias" else item
        kind = (
            _SQL_AGGS.get(fn.parts[-1].lower())
            if fn.kind == "UnresolvedFunction" and len(fn.parts) == 1
            else None
        )
        if kind == "count" and fn.j.isDistinct():
            raise ValueError(
                "COUNT(DISTINCT ...) is not incrementally "
                "maintainable with bounded per-group state — use "
                "APPROX_COUNT_DISTINCT(expr) AS name (maintained KMV "
                f"sketch, EXACT below {_KMV_K} distinct values)"
            )
        if (
            item.kind != "Alias" or not _NAME.fullmatch(item.j.name())
            or kind is None or len(fn.kids) != 1 or fn.j.isDistinct()
            or fn.j.filter().isDefined()
        ):
            raise ValueError(
                f"unsupported materialized-view select item "
                f"{_render(item, {})!r}: use a bare group key or "
                "count/sum/avg/min/max/approx_count_distinct(...) AS name"
            )
        arg = fn.kids[0]
        # Spark parses count(*) as count(1), the literal's origin the call's
        star = kind == "count" and arg.lit == ("integer", "1") and (
            arg.raw in (None, fn.raw)
        )
        aggs[item.j.name()] = (kind, None if star else _render(arg, {}))
    if sorted(seen_keys) != sorted(keys):
        raise ValueError(
            f"select keys {sorted(seen_keys)} must equal GROUP BY keys "
            f"{sorted(keys)}"
        )
    if not aggs:
        raise ValueError("materialized view needs at least one aggregate")
    if filt is not None:
        _check_row_local(filt)
    source = ".".join(_seq(src.j.multipartIdentifier()))
    return source, keys, aggs, filt and _render(filt, {}, parens=True)
