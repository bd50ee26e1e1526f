"""SQL DML front for versioned tables (round 13).

The reference's entire execution surface is per-table ``UPDATE "table"
SET "col" = expr`` statements (``src/executor/query-builder.ts:58-61``
builds them, ``src/executor/executor.ts:45-85`` runs them inside one
transaction).  Round 12's ``--sql`` mode ran SELECTs, but Spark's
analyzer refuses ``UPDATE`` / ``DELETE`` / ``MERGE INTO`` against temp
views — so the one statement class the reference exists for could not
run through the SQL face.  This module closes that gap: a statement
front that maps the DML shapes onto the versioned table's NATIVE ops —

    ``UPDATE v SET c = e, ... [WHERE p]``  → :meth:`VersionedTable.update_where`
    ``DELETE FROM v [WHERE p]``            → :meth:`VersionedTable.delete_where`
    ``INSERT INTO v [(cols)] VALUES|query``→ :meth:`VersionedTable.append`
    ``MERGE INTO v USING s ON ... WHEN``   → :meth:`VersionedTable.merge`

so the statement lands as ONE commit in the table's log — CDF-visible,
OCC-rebased, constraint-checked, file-skipped — with time travel below
it intact.  Expressions (SET values, WHERE predicates, merge clause
conditions) pass through to Spark SQL verbatim, so the full Spark
expression language works inside every slot.

Scope contract — refusals are loud, never silent:

- the target must be a ``--versionedTable`` view registered WITHOUT a
  version/timestamp pin (writing "into the past" is refused, exactly as
  Delta refuses DML on a time-travel read);
- DML against a plain ``--data`` parquet view is refused with a hint
  (parquet files are immutable; the commit log is what makes DML atomic
  and auditable);
- MERGE's ON condition must CONTAIN the key-equality conjunction of
  the target's declared key (the native merge joins on the key).
  Additional conjuncts — Delta's residual-ON shape, ``ON t.id = s.id
  AND t.region = 'EU'`` — are honored by threading them into the
  clause conditions (round 14): matched clauses fire only where the
  residual holds, and a key-matched pair FAILING the residual is "not
  matched by source" under full-ON semantics (the target key is
  unique, so no other source row can match it) — the BY SOURCE clauses
  apply to it.  One documented deviation: ``WHEN NOT MATCHED ... THEN
  INSERT`` stays keyed on the KEY equality alone — a source row whose
  key exists in the target never inserts, because the table's
  key-uniqueness contract forbids the duplicate key Delta would write
  there.  An ON that does not contain the full key equality is still
  refused with the expected shape in the message.

The four DML shapes are parsed by Spark's own Catalyst parser
(``sessionState().sqlParser().parsePlan``, once per statement), so the
SQL dialect is exactly the one every expression slot is evaluated in:
``"x"`` is a string literal, ``CASE WHEN`` and quoted keywords need no
special handling, and a malformed statement raises :class:`SqlDmlError`
with Spark's own message.  One walk over the parse tree fills the
statement record; each expression slot keeps the text the user wrote
(the slice its node's origin indexes).  Qualifier rewriting, the MERGE
ON key split, ``[NOT] IN (SELECT ...)`` handling and the file-skipping
hints read tree nodes, never the text.

The maintenance and DDL statements take the same route.  Those Spark's
grammar accepts — the ALTER TABLE family, TRUNCATE, DROP TABLE, SHOW
CREATE TABLE / TBLPROPERTIES and ANALYZE ... FOR COLUMNS — are parsed
once, and one walk over the tree fills the record execution reads (a
CHECK predicate keeps the user's text through its origin slice).  The
engine's own statements (OPTIMIZE, VACUUM, RESTORE, ERASE, COPY INTO,
CONVERT, REFRESH / DROP MATERIALIZED VIEW, DESCRIBE HISTORY|DETAIL,
ANALYZE ... BLOOM COLUMNS, CREATE ... USING VERSIONED, EXPLAIN) keep one
head pattern each, in one table: the keyword, the target and the engine
options.  Every predicate, query, column list and property list inside
them goes to Catalyst.  A quote- and paren-aware scanner remains only
for splitting scripts and for the CREATE TABLE body, whose ``KEY``,
``CLONE`` and identity ``STEP`` are not Spark grammar.
"""

from __future__ import annotations

import json
import math
import re
from dataclasses import dataclass, field
from decimal import Decimal
from functools import cached_property, lru_cache

from database_anonymiser_spark.safeguards import bounded_collect

__all__ = ["SqlDmlError", "classify_dml", "execute_dml"]


class SqlDmlError(ValueError):
    """A DML statement we refuse to run — malformed statement, wrong
    target class, or semantics the native ops cannot honor."""


# --------------------------------------------------------------------------
# scanner: quote- and paren-aware masks over the raw statement text
# (script splitting and the CREATE TABLE body)
# --------------------------------------------------------------------------

def _mask(s: str) -> list[tuple[int, bool]]:
    """Per-character ``(paren_depth, is_code)`` — ``is_code`` False inside
    ``'...'`` (with ``''`` escape), ``"..."`` and backtick literals.  The
    mask is what lets every keyword search below mean *top-level
    keyword*, so a comma inside ``concat(a, b)`` or a WHERE inside a
    string never splits the skeleton."""
    out: list[tuple[int, bool]] = [None] * len(s)  # type: ignore[list-item]
    depth = 0
    quote: str | None = None
    i, n = 0, len(s)
    while i < n:
        c = s[i]
        if quote is not None:
            out[i] = (depth, False)
            if c == quote:
                if quote == "'" and i + 1 < n and s[i + 1] == "'":
                    out[i + 1] = (depth, False)
                    i += 2
                    continue
                quote = None
            i += 1
            continue
        if c in "'\"`":
            quote = c
            out[i] = (depth, False)
        elif c == "(":
            out[i] = (depth, True)
            depth += 1
        elif c == ")":
            depth = max(0, depth - 1)
            out[i] = (depth, True)
        else:
            out[i] = (depth, True)
        i += 1
    return out


def _find(s: str, mask, pattern: str, start: int = 0) -> "re.Match | None":
    """First top-level (depth-0, outside-string) match of ``pattern``."""
    for m in re.compile(pattern, re.I).finditer(s, start):
        d, code = mask[m.start()]
        if d == 0 and code:
            return m
    return None


def _split_top(s: str, sep: str = ",") -> list[str]:
    """Split on top-level ``sep`` characters (never inside quotes/parens)."""
    mask = _mask(s)
    parts, last = [], 0
    for i, c in enumerate(s):
        if c == sep and mask[i] == (0, True):
            parts.append(s[last:i])
            last = i + 1
    parts.append(s[last:])
    return parts


_IDENT = r'(?:[A-Za-z_][\w$]*|`[^`]+`|"[^"]+")'


def _unquote(ident: str) -> str:
    ident = ident.strip()
    if len(ident) >= 2 and ident[0] == ident[-1] and ident[0] in '`"':
        return ident[1:-1]
    return ident


# --------------------------------------------------------------------------
# parse trees: Spark's parser, walked over py4j
# --------------------------------------------------------------------------

#: node kinds the walks never descend into — a subquery's plan is not a
#: child, and a literal or attribute has no children
_LEAVES = frozenset(
    {"UnresolvedAttribute", "Literal", "ListQuery", "ScalarSubquery", "Exists"}
)


def _seq(j) -> list:
    """A Scala ``Seq`` as a Python list (one JVM call per element)."""
    return [j.apply(i) for i in range(j.size())]


def _opt(j):
    """A Scala ``Option``'s value, or None."""
    return j.get() if j.isDefined() else None


def _parse(text: str, expression: bool = False,
           grammar: str | None = None) -> "_Node":
    """Parse ``text`` with the active session's Catalyst parser — as one
    statement, or as a bare expression.  A refusal from Spark's grammar
    becomes a :class:`SqlDmlError` carrying Spark's message and
    ``grammar`` (default: the DML grammar).  PySpark
    logs every JVM exception it converts at ERROR, stack trace included,
    whatever the log level; the refusal reaches the user as the
    SqlDmlError, so that record is muted for the call."""
    from pyspark.errors import AnalysisException
    from pyspark.logger import PySparkLogger
    from pyspark.sql import SparkSession

    parser = SparkSession.active()._jsparkSession.sessionState().sqlParser()
    # PySpark's own logger class: it takes the errorClass keyword
    log = PySparkLogger.getLogger("SQLQueryContextLogger")
    was, log.disabled = log.disabled, True
    try:
        j = parser.parseExpression(text) if expression else parser.parsePlan(text)
    except AnalysisException as e:  # ParseException is one
        raise SqlDmlError(f"{str(e).strip()}\n{grammar or _GRAMMAR}") from None
    finally:
        log.disabled = was
    return _Node(j, text)


class _Node:
    """One node of a parse tree: the py4j handle plus the text its origin
    indexes.  A JVM round trip costs ~0.2 ms, so every property is
    cached: the passes over one statement (requalification, IN-subquery
    handling, file skipping) cross into the JVM once per node touched."""

    def __init__(self, j, text: str):
        self.j, self.text = j, text

    def at(self, j) -> "_Node":
        """Another node of the same tree."""
        return _Node(j, self.text)

    @cached_property
    def kind(self) -> str:
        return self.j.nodeName()

    @cached_property
    def kids(self) -> list["_Node"]:
        if self.kind in _LEAVES:
            return []
        if self.kind == "In" and self.j.inSetConvertible():
            # a literal list holds no column; an erasure script's IN list
            # has a thousand entries, which in_list reads in one call
            return [self.at(self.j.value())]
        return [self.at(c) for c in _seq(self.j.children())]

    @cached_property
    def parts(self) -> list[str]:
        """An attribute's (or a function's) name parts."""
        return _seq(self.j.nameParts())

    @cached_property
    def lit(self) -> "tuple[str, str | None] | None":
        """A literal's ``(type name, value text)``, else None."""
        if self.kind != "Literal":
            return None
        d = json.loads(self.j.toJSON())[0]
        return d["dataType"], d["value"]

    @cached_property
    def raw(self) -> "tuple[int, int] | None":
        """``[start, stop)`` of the node's own origin in ``text``.  Spark
        shares one object between all TRUE (and all FALSE) literals, so
        theirs is stale: None."""
        if self.lit is not None and self.lit[0] == "boolean":
            return None
        ctx = self.j.origin().context()
        start = ctx.startIndex()
        return (start, ctx.stopIndex() + 1) if start >= 0 else None

    @cached_property
    def span(self) -> "tuple[int, int] | None":
        """The node's full extent: a postfix predicate's origin (``IN``,
        ``LIKE``, ``BETWEEN``, ``IS NULL``) starts at its keyword, so it
        widens over the leftmost child, parentheses included."""
        own = self.raw
        first = self.kids[0].span if self.kids else None
        if own is None or first is None:
            return own
        return min(own[0], _parens(self.text, first)[0]), own[1]

    @cached_property
    def conjuncts(self) -> list["_Node"]:
        """The leaves of the node's AND tree."""
        if self.kind != "And":
            return [self]
        return [c for k in self.kids for c in k.conjuncts]

    @cached_property
    def sql(self) -> str:
        """Spark's own rendering: the text of a node with no origin."""
        return self.j.sql()

    @cached_property
    def in_list(self) -> list | None:
        """The literals of ``col IN (lit, ...)`` as bounds, in one JVM call
        (the node's JSON: the IN node, its column, then one Literal per
        entry), else None."""
        if self.kids[0].kind != "UnresolvedAttribute" or not self.j.inSetConvertible():
            return None
        flat = json.loads(self.j.toJSON())[2:]
        return [_lit_value((d["dataType"], d["value"])) for d in flat]

    @cached_property
    def escape(self) -> str:
        """A LIKE's escape character."""
        return self.j.escapeChar()

    @cached_property
    def subquery(self) -> str | None:
        """A subquery expression's query text."""
        plan = self.at(self.j.plan())
        return plan.text[slice(*plan.raw)] if plan.raw else None

    def walk(self, parent: "_Node | None" = None):
        """``(node, parent)`` pairs in pre-order, never into a subquery."""
        yield self, parent
        for k in self.kids:
            yield from k.walk(self)

    def frozen(self) -> "_Node":
        """This expression tree with every property the walks read
        computed and the JVM handles dropped: a memoized statement record
        then holds only Python values."""
        nodes = [n for n, _ in self.walk()]
        for n in nodes:
            n.span, n.lit, n.conjuncts
            if n.kind in ("UnresolvedAttribute", "UnresolvedFunction"):
                n.parts
            elif n.kind == "In":
                n.in_list
            elif n.kind == "Like":
                n.escape
            elif n.kind == "ListQuery":
                n.subquery
        for n in (self, *self.conjuncts):  # the nodes rendered on their own
            if n.span is None:
                n.sql
        for n in nodes:
            n.j = None
        return self


def _parens(text: str, span: tuple[int, int]) -> tuple[int, int]:
    """``span`` widened over the parentheses that enclose it exactly — a
    parenthesised node's origin leaves them out."""
    start, stop = span
    while True:
        a, b = start, stop
        while a > 0 and text[a - 1].isspace():
            a -= 1
        while b < len(text) and text[b].isspace():
            b += 1
        if not (a > 0 and b < len(text) and text[a - 1] == "(" and text[b] == ")"):
            return start, stop
        start, stop = a - 1, b + 1


def _quote(part: str) -> str:
    if part.isidentifier() and part.isascii():
        return part
    return "`" + part.replace("`", "``") + "`"


def _render(node: _Node, qualifiers: dict[str, str], subs: dict | None = None,
            parens: bool = False) -> str:
    """The text the user wrote for ``node``, with two kinds of edits:

    - an attribute whose FIRST name part is a key of ``qualifiers``
      (lowercased) gets that part replaced by the mapped qualifier, or
      dropped for ``''`` — ``u.c.x`` under ``{"u": "s", "c": "t"}`` is
      ``s.c.x``, a struct path is never renamed;
    - a node keyed (by ``id``) in ``subs`` as ``(span, text, descend)``
      has ``span`` replaced by ``text``; ``descend`` keeps editing its
      children.

    ``parens`` widens the result over enclosing parentheses: a conjunct
    taken out of an AND chain keeps its grouping."""
    if node.span is None:  # a TRUE/FALSE literal
        return node.sql
    subs = subs or {}
    text = node.text
    start, stop = _parens(text, node.span) if parens else node.span
    edits: list[tuple[tuple[int, int], str]] = []

    def visit(n: _Node) -> None:
        if id(n) in subs:
            span, repl, descend = subs[id(n)]
            edits.append((span, repl))
            if not descend:
                return
        elif n.kind == "UnresolvedAttribute" and len(n.parts) > 1 and n.span:
            q = qualifiers.get(n.parts[0].lower())
            if q is not None:
                rest = ".".join(_quote(p) for p in n.parts[1:])
                edits.append((n.span, f"{q}.{rest}" if q else rest))
        for k in n.kids:
            visit(k)

    visit(node)
    out, at = [], start
    for (s, e), repl in sorted(edits):
        out += [text[at:s], repl]
        at = e
    return "".join(out) + text[at:stop]


def _column(node: _Node, qualifiers: dict[str, str]) -> str | None:
    """The column a bare (or target-qualified) attribute names, else None."""
    if node.kind != "UnresolvedAttribute":
        return None
    *qual, col = node.parts
    if not qual or (len(qual) == 1 and qualifiers.get(qual[0].lower()) == ""):
        return col
    return None


def _relation(node: _Node, alias_ok: bool, what: str) -> tuple[str, str]:
    """``name [[AS] alias]`` → (name, qualifier); the qualifier defaults to
    the name itself (SQL's rule when no alias is given)."""
    alias = None
    if node.kind == "SubqueryAlias" and alias_ok:
        alias, node = node.j.alias(), node.at(node.j.child())
    if node.kind != "UnresolvedRelation":
        raise SqlDmlError(
            f"unsupported {what} (aliases and subqueries are out of scope "
            f"here)\n{_GRAMMAR}"
        )
    name = ".".join(_seq(node.j.multipartIdentifier()))
    return name, alias or name


# --------------------------------------------------------------------------
# statement records
# --------------------------------------------------------------------------

@dataclass(frozen=True)
class _Update:
    table: str
    assignments: dict[str, str] = field(default_factory=dict)
    predicate: str | None = None
    where: "_Node | None" = field(default=None, repr=False, compare=False)


@dataclass(frozen=True)
class _Delete:
    table: str
    predicate: str | None = None
    where: "_Node | None" = field(default=None, repr=False, compare=False)


@dataclass(frozen=True)
class _Insert:
    table: str
    columns: "list[str] | None"          # None = positional full schema
    query: str                           # the source: a query or VALUES list
    overwrite: bool = False              # INSERT OVERWRITE (round 14)
    inline: bool = False                 # the source is a VALUES list
    rows: list = field(default_factory=list, repr=False, compare=False)

    @property
    def values(self) -> "list[list[str]] | None":
        """The VALUES cells' texts, row by row; None for a query source,
        and for an all-constant VALUES list, which Spark folds to rows
        while parsing (its cells keep no text)."""
        if not self.rows:
            return None
        return [[_render(c, {}) for c in row] for row in self.rows]


@dataclass(frozen=True)
class _Merge:
    target: str
    target_alias: str
    source_sql: str          # a table name or a full subquery SELECT
    source_is_query: bool
    source_alias: str
    on: "_Node" = field(repr=False, compare=False)  # the ON condition
    matched: list[tuple] = field(default_factory=list)
    not_matched: list[tuple] = field(default_factory=list)
    by_source: list[tuple] = field(default_factory=list)


def classify_dml(stmt: str) -> str | None:
    """'update' | 'delete' | 'merge' | 'insert' when the statement is one
    of the DML shapes, else None (caller falls through to ``spark.sql``)."""
    head = re.match(r"\s*(UPDATE|DELETE|MERGE|INSERT)\b", stmt, re.I)
    return head.group(1).lower() if head else None


def _strip_stmt(stmt: str) -> str:
    stmt = stmt.strip()
    if stmt.endswith(";"):
        stmt = stmt[:-1].rstrip()
    return stmt


_GRAMMAR = (
    "supported DML grammar (Spark SQL's own statements):\n"
    "  UPDATE <view> SET col = expr [, ...] [WHERE <pred>]\n"
    "  DELETE FROM <view> [WHERE <pred>]\n"
    "  INSERT INTO|OVERWRITE [TABLE] <view> [(cols)] VALUES (exprs) [, ...] | <query>\n"
    "  MERGE INTO <view> [AS] t USING (<query>|<view>) [AS] s ON <key equality [AND residual]>\n"
    "    WHEN MATCHED [AND c] THEN UPDATE SET ...|SET *|DELETE\n"
    "    WHEN NOT MATCHED [BY TARGET] [AND c] THEN INSERT (cols) VALUES (exprs)|INSERT *\n"
    "    WHEN NOT MATCHED BY SOURCE [AND c] THEN UPDATE SET ...|DELETE\n"
    "  (an alias on an UPDATE/DELETE/INSERT target is out of scope; a MATCHED\n"
    "  clause without AND <c> must be the last MATCHED clause)"
)


def _assignments(seq, at: _Node, targets: tuple[str, ...],
                 qualifiers: dict[str, str]) -> dict[str, str]:
    """``col = expr, ...`` → ``{col: expr text}``, each expression
    requalified.  A column may carry a target qualifier (``targets``);
    any other qualifier, a nested field or a repeat is refused."""
    out: dict[str, str] = {}
    for a in _seq(seq):
        key = at.at(a.key())
        *qual, col = key.parts
        if len(qual) > 1 or (qual and qual[0].lower() not in targets):
            raise SqlDmlError(
                f"SET column {'.'.join(key.parts)!r} is not a column of the "
                "target table/alias"
            )
        if col in out:
            raise SqlDmlError(f"column {col!r} assigned twice in SET")
        out[col] = _render(at.at(a.value()), qualifiers)
    return out


def _update_record(plan: _Node) -> _Update:
    table, _ = _relation(plan.at(plan.j.table()), False, "UPDATE target")
    strip = {table.lower(): ""}
    assigns = _assignments(plan.j.assignments(), plan, (table.lower(),), strip)
    cond = _opt(plan.j.condition())
    where = plan.at(cond) if cond is not None else None
    return _Update(table, assigns, where and _render(where, strip),
                   where and where.frozen())


def _delete_record(plan: _Node) -> _Delete:
    table, _ = _relation(plan.at(plan.j.table()), False, "DELETE target")
    where = plan.at(plan.j.condition())
    if where.lit == ("boolean", "true"):  # no WHERE (or WHERE TRUE)
        return _Delete(table)
    return _Delete(table, _render(where, {table.lower(): ""}), where.frozen())


def _insert_record(plan: _Node) -> _Insert:
    if plan.j.byName() or not plan.j.partitionSpec().isEmpty():
        raise SqlDmlError(f"unsupported INSERT shape\n{_GRAMMAR}")
    table, _ = _relation(plan.at(plan.j.table()), False, "INSERT target")
    columns = _seq(plan.j.userSpecifiedCols()) or None
    if columns and len(set(columns)) != len(columns):
        raise SqlDmlError("duplicate column in INSERT list")
    src = plan.at(plan.j.query())
    query = src.text[slice(*src.raw)]
    overwrite = bool(plan.j.overwrite())
    if src.kind == "UnresolvedRelation":  # INSERT INTO t TABLE src
        return _Insert(table, columns, f"TABLE {query}", overwrite)
    if src.kind == "LocalRelation":  # constant VALUES, folded by Spark
        width = src.j.output().size()
        rows = []
    elif src.kind == "UnresolvedInlineTable":
        rows = [[src.at(c).frozen() for c in _seq(r)] for r in _seq(src.j.rows())]
        width = len(rows[0])
        if any(len(r) != width for r in rows):
            raise SqlDmlError("VALUES rows have inconsistent arity")
    else:
        return _Insert(table, columns, query, overwrite)
    if columns is not None and len(columns) != width:
        raise SqlDmlError(
            f"INSERT arity mismatch: {len(columns)} columns, "
            f"{width} values per row"
        )
    return _Insert(table, columns, query, overwrite, True, rows)


def _merge_record(plan: _Node) -> _Merge:
    target, talias = _relation(plan.at(plan.j.targetTable()), True, "MERGE target")
    src = plan.at(plan.j.sourceTable())
    inner = src.at(src.j.child()) if src.kind == "SubqueryAlias" else src
    if inner.kind == "UnresolvedRelation":
        (source_sql, salias), is_query = _relation(src, True, "MERGE source"), False
    elif src.kind == "SubqueryAlias":
        source_sql, is_query = inner.text[slice(*inner.raw)], True
        salias = src.j.alias()
    else:
        raise SqlDmlError(
            "a subquery source needs an alias: USING (<query>) [AS] s"
        )
    if talias.lower() == salias.lower():
        raise SqlDmlError(
            f"target and source qualifiers collide ({talias!r}); alias one"
        )
    requal = {talias.lower(): "t", salias.lower(): "s"}
    # a SET column names a TARGET column: bare or target-qualified only
    targets = (talias.lower(), "t")
    merge = _Merge(target, talias, source_sql, is_query, salias,
                   plan.at(plan.j.mergeCondition()).frozen())
    for actions, out in (
        (plan.j.matchedActions(), merge.matched),
        (plan.j.notMatchedActions(), merge.not_matched),
        (plan.j.notMatchedBySourceActions(), merge.by_source),
    ):
        for a in _seq(actions):
            kind = a.nodeName()
            cond = _opt(a.condition())
            cond = _render(plan.at(cond), requal) if cond is not None else None
            if kind == "DeleteAction":
                out.append(("delete", cond))
            elif kind == "UpdateStarAction":  # UPDATE SET *
                out.append(("update", cond, None))
            elif kind == "InsertStarAction":  # INSERT *
                out.append(("insert", cond, None))
            else:
                out.append((
                    "update" if kind == "UpdateAction" else "insert", cond,
                    _assignments(a.assignments(), plan, targets, requal),
                ))
    return merge


#: Spark's node for each DML statement: its keyword, the record builder
#: and the accessor of its target relation
_DML = {
    "UpdateTable": ("UPDATE", _update_record, lambda j: j.table()),
    "DeleteFromTable": ("DELETE", _delete_record, lambda j: j.table()),
    "InsertIntoStatement": ("INSERT", _insert_record, lambda j: j.table()),
    "MergeIntoTable": ("MERGE", _merge_record, lambda j: j.targetTable()),
}


@dataclass(frozen=True)
class _DmlParse:
    kind: str                 # Spark's plan node
    target: str | None        # the target table, read with an alias allowed
    record: "_Update | _Delete | _Insert | _Merge | None" = None
    error: str | None = None  # the record's refusal


@lru_cache(maxsize=256)
def _parse_dml(stmt: str) -> _DmlParse:
    """One Spark parse of a DML statement, memoized by text like
    :func:`_parse_utility`: the rollback bookkeeping's target and the
    statement record, whose trees are frozen (Python values only).  A
    refusal is kept as its message and raised on every read."""
    plan = _parse(stmt)
    if plan.kind not in _DML:
        return _DmlParse(plan.kind, None)
    _, build, target = _DML[plan.kind]
    try:
        name = _relation(plan.at(target(plan.j)), True, "target")[0]
    except SqlDmlError:
        name = None
    try:
        return _DmlParse(plan.kind, name, build(plan))
    except SqlDmlError as e:
        return _DmlParse(plan.kind, name, error=str(e))


def _dml_record(stmt: str, kind: str):
    p = _parse_dml(stmt)
    if p.kind != kind:
        raise SqlDmlError(f"unsupported {_DML[kind][0]} shape\n{_GRAMMAR}")
    if p.error is not None:
        raise SqlDmlError(p.error)
    return p.record


def _parse_update(stmt: str) -> _Update:
    return _dml_record(stmt, "UpdateTable")


def _parse_delete(stmt: str) -> _Delete:
    return _dml_record(stmt, "DeleteFromTable")


def _parse_insert(stmt: str) -> _Insert:
    return _dml_record(stmt, "InsertIntoStatement")


def _parse_merge(stmt: str) -> _Merge:
    return _dml_record(stmt, "MergeIntoTable")


def _on_keys(
    on: _Node, talias: str, salias: str, key_cols: tuple
) -> tuple[dict[str, str], list[str]]:
    """Split the ON condition into the key-equality conjunction and the
    residual (round 14 — Delta accepts arbitrary ON; the native merge
    joins on the declared key, so the residual is threaded into clause
    conditions by the caller).  Returns ``({target_key_col: source_col},
    [residual conjuncts requalified to t./s.])``.  An ON that does not
    CONTAIN the full key equality is refused — without it, "matched"
    would silently mean something other than what the key-joined native
    merge computes."""
    expected = " AND ".join(f"{talias}.{k} = {salias}.{k}" for k in key_cols)
    side = {talias.lower(): "t", salias.lower(): "s"}
    pairs: dict[str, str] = {}
    residual: list[str] = []
    key_set = {str(k) for k in key_cols}
    for conj in on.conjuncts:
        names = [
            k.parts for k in conj.kids if k.kind == "UnresolvedAttribute"
        ] if conj.kind == "EqualTo" else []
        if len(names) == 2 and all(len(p) == 2 for p in names):
            (q1, c1), (q2, c2) = names
            s1, s2 = side.get(q1.lower()), side.get(q2.lower())
            if s1 is not None and s2 is not None and s1 != s2:
                tcol, scol = (c1, c2) if s1 == "t" else (c2, c1)
                if tcol in key_set and tcol not in pairs:
                    pairs[tcol] = scol
                    continue
                # a qualified equality on a non-key column (or a repeat
                # of a key column) is an ordinary residual conjunct
        residual.append(_render(conj, side, parens=True))
    if set(pairs) != key_set:
        raise SqlDmlError(
            f"merge ON must contain the key-equality conjunction for the "
            f"table key {list(key_cols)}; got target key columns "
            f"{sorted(pairs)}. Expected: ON {expected} [AND <residual>]"
        )
    return pairs, residual


def _parse_on_keys(
    on: str, talias: str, salias: str, key_cols: tuple
) -> tuple[dict[str, str], list[str]]:
    """:func:`_on_keys` over an ON condition given as text."""
    return _on_keys(_parse(on, expression=True), talias, salias, key_cols)


def _sq_quote(s: str) -> str:
    """Render a string as a SQL single-quoted literal ('' escaping)."""
    return "'" + str(s).replace("'", "''") + "'"


# --------------------------------------------------------------------------
# file skipping
# --------------------------------------------------------------------------

#: comparison node → operator, and its mirror for ``literal <op> col``
_CMP = {"EqualTo": "=", "LessThan": "<", "LessThanOrEqual": "<=",
        "GreaterThan": ">", "GreaterThanOrEqual": ">="}
_FLIP = {"<": ">", ">": "<", "<=": ">=", ">=": "<=", "=": "="}


def _lit_value(lit):
    """A literal's ``(type name, value text)`` as a skipping bound:
    integers and decimals as int/float, strings as str; anything else
    (NULL, booleans, doubles, typed literals such as ``DATE'…'``) is
    None — it bounds nothing."""
    if lit is None or not isinstance(lit[0], str):
        return None
    typ, val = lit
    if typ == "string":
        return val
    if typ in ("integer", "long", "short", "byte"):
        return int(val)
    if typ.startswith("decimal"):  # decimal(p,s); its text may be 1E-10
        return int(Decimal(val)) if typ.endswith(",0)") else float(val)
    return None


def _py_bound(v):
    """A collected IN-subquery value as :func:`_lit_value` reads the
    literal it is spliced in as."""
    if v is None or isinstance(v, bool):
        return None
    if isinstance(v, float):
        return v if math.isfinite(v) else None
    return v if isinstance(v, int) else str(v)


def _point_types(schema) -> dict:
    """{lowercased column: the Python type an IN value must have to be
    probed as a point}: ``int`` for integral columns, ``str`` for string
    ones. A bloom hashes ``str(value)`` as stored, so a value of another
    type (``1`` against a double's ``1.0``) would miss its own row; such
    a column skips by range instead (the merge keys' rule)."""
    from pyspark.sql import types as T

    kinds = {T.ByteType: int, T.ShortType: int, T.IntegerType: int,
             T.LongType: int, T.StringType: str}
    return {
        f.name.lower(): kinds[type(f.dataType)]
        for f in (schema.fields if schema is not None else ())
        if type(f.dataType) in kinds
    }


def _prune(conjuncts: list[_Node], qualifiers: dict[str, str],
           in_values: dict | None = None,
           point_types: dict | None = None) -> dict:
    """``{col: (lo, hi) | {values} | "isnull" | "notnull"}`` file-skipping hints
    IMPLIED by a conjunction — what Delta compiles from the WHERE clause,
    rendered for the native ops' ``prune=`` vocabulary (round 13: a
    scoped SQL UPDATE/DELETE must cost O(files containing matches), not
    O(table)).

    One-sided by construction: only conjuncts of the shapes ``col <op>
    literal``, ``literal <op> col``, ``col BETWEEN a AND b``, ``col IN
    (literals)``, ``col LIKE 'prefix%'`` and ``col IS [NOT] NULL``
    contribute; anything else (an OR, functions, subqueries,
    column-to-column) is simply not pruned on.  ``in_values`` maps an
    ``IN (SELECT ...)`` node (by ``id``) to its materialized values.
    ``point_types`` (:func:`_point_types` of the target table) turns an
    IN list on a column whose type its values share into a point set —
    range stats and the bloom then skip per value; any other IN list
    relaxes to its ``[min, max]`` range.
    The native ops additionally conjoin the prune into the row predicate
    (their documented self-consistency contract), so a derived hint can
    narrow a read but never split semantics."""
    out: dict = {}
    unprunable: set = set()

    def _narrow(col: str, lo, hi):
        if col in unprunable:
            return
        cur = out.get(col)
        if isinstance(cur, set):
            # points AND a range: the points inside it
            try:
                out[col] = {x for x in cur if (lo is None or x >= lo)
                            and (hi is None or x <= hi)}
            except TypeError:
                unprunable.add(col)
                out.pop(col, None)
            return
        if isinstance(cur, str):
            cur = (None, None)
        clo, chi = cur if cur else (None, None)
        try:
            if lo is not None:
                clo = lo if clo is None else max(clo, lo)
            if hi is not None:
                chi = hi if chi is None else min(chi, hi)
        except TypeError:
            # mixed-literal-type bounds on one column (e.g. "c <= 5 AND
            # c <= 'x'") are not orderable here — drop the column from
            # pruning entirely (conservative, round-14 advice fix: an
            # uncaught TypeError escaped execute_dml past the CLI's
            # except clause and skipped the rollback path)
            unprunable.add(col)
            out.pop(col, None)
            return
        out[col] = (clo, chi)

    for c in conjuncts:
        kids = c.kids
        col = _column(kids[0], qualifiers) if kids else None
        if c.kind in _CMP:
            op, val = _CMP[c.kind], _lit_value(kids[1].lit)
            if col is None or val is None:  # 5 < col  ≡  col > 5
                op = _FLIP[op]
                col, val = _column(kids[1], qualifiers), _lit_value(kids[0].lit)
            if col is None or val is None:
                continue
            _narrow(col, val if op in ("=", ">", ">=") else None,
                    val if op in ("=", "<", "<=") else None)
        elif col is None:
            continue
        elif c.kind == "UnresolvedFunction" and c.parts == ["between"] and len(kids) == 3:
            lo, hi = (_lit_value(k.lit) for k in kids[1:])
            if lo is not None and hi is not None:
                _narrow(col, lo, hi)
        elif c.kind in ("In", "InSubquery"):
            vals = (
                c.in_list if c.kind == "In"
                else (in_values or {}).get(id(c))
            )
            want = (point_types or {}).get(col.lower())
            if vals and None not in vals and col not in unprunable and (
                want is not None and all(type(x) is want for x in vals)
            ):
                cur = out.get(col)
                pts = set(vals) if not isinstance(cur, set) else cur & set(vals)
                out[col] = pts
                if isinstance(cur, tuple):
                    _narrow(col, *cur)  # an earlier range filters the points
            elif vals and None not in vals:
                try:
                    _narrow(col, min(vals), max(vals))
                except TypeError:
                    pass  # mixed-type literal list: not prunable
        elif c.kind == "Like" and (kids[1].lit or ("",))[0] == "string":
            # plain-prefix LIKE: 'abc%' implies 'abc' <= col < 'abd'
            # (Delta-style truncation-increment: bump the last
            # incrementable char; EVERY string with prefix 'abc' sorts
            # strictly below 'abd', so the inclusive hi is one-sided-
            # sound). Round-14 advice fix: a prefix+U+10FFFF upper bound
            # is NOT implied by the predicate — 'abc\U0010FFFFx' matches
            # LIKE 'abc%' but sorts above it, and since prune ranges
            # conjoin into the row predicate that silently skipped
            # matching rows. (A wildcard or escape inside the prefix is
            # not a pure prefix test and contributes nothing.)
            pat, esc = kids[1].lit[1], c.escape
            prefix = pat[:-1]
            if pat.endswith("%") and prefix and not (set(prefix) & {"%", "_", esc}):
                hi = None
                for k in range(len(prefix) - 1, -1, -1):
                    if ord(prefix[k]) < 0x10FFFF:
                        hi = prefix[:k] + chr(ord(prefix[k]) + 1)
                        break
                _narrow(col, prefix, hi)
        elif c.kind in ("IsNull", "IsNotNull") and col not in out:
            out[col] = "notnull" if c.kind == "IsNotNull" else "isnull"
    return out


def derive_prune(pred: str) -> dict:
    """File-skipping hints implied by a SQL predicate given as text
    (:func:`_prune` over Spark's parse of it)."""
    return _prune(_parse(pred, expression=True).conjuncts, {})


# --------------------------------------------------------------------------
# execution
# --------------------------------------------------------------------------

#: bounded-driver-collect cap for IN (SELECT ...) materialization —
#: the same order as versioned.ISIN_LITERAL_CAP's philosophy. Round 14:
#: beyond the cap the statement no longer refuses — a conjunct-level
#: ``col [NOT] IN (SELECT ...)`` runs as a DISTRIBUTED semi-join through
#: the native ops' ``membership`` parameter instead (never collected).
IN_SUBQUERY_CAP = 10_000


def _sql_literal(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, (int, float)):
        return repr(v)
    return _sq_quote(v)


def _resolve_where(spark, where: "_Node | None", qualifiers: dict[str, str],
                   point_types: dict | None = None):
    """The WHERE as executed: ``(predicate, membership, prune)``.

    ``predicate`` is the text with ``qualifiers`` applied and every
    ``[NOT] IN (SELECT ...)`` run (round 13) — the GDPR shape ``UPDATE t
    SET ... WHERE id IN (SELECT id FROM revoked)`` cannot ride ``F.expr``
    (no subquery resolution outside spark.sql).  A subquery of at most
    :data:`IN_SUBQUERY_CAP` rows is spliced back as a LITERAL list, with
    SQL three-valued logic kept exact: NULLs ride as literal NULL, and
    an empty result replaces the whole test with the standard identity
    (``IN`` → FALSE, ``NOT IN`` → TRUE, for every operand).  Its values
    feed the IN-list file skipping.

    Above the cap (round 14) the term runs as a DISTRIBUTED semi-join
    instead: ``membership`` is the ``(col, subjects_df, negated)`` spec
    the native ops take, and the term leaves the predicate.  That needs
    the term to be a whole top-level conjunct (under an OR/NOT its truth
    value can't be factored out of the row predicate) with a plain
    column operand (an expression operand would need evaluating per row
    on both sides of the join key), and at most one such term per
    statement (two subject sets would need two joins); anything else is
    refused with guidance to use MERGE.

    ``prune`` is :func:`_prune` over the executed conjuncts, with the
    target's ``point_types``."""
    if where is None:
        return None, None, None
    subs: dict = {}
    in_values: dict = {}
    big = []
    for n, parent in where.walk():
        if n.kind != "InSubquery":
            continue
        *operands, query = n.kids
        # `x NOT IN (...)`: the NOT is inside the IN node's own origin
        negated = (
            parent is not None and parent.kind == "Not"
            and parent.raw[0] == n.raw[0]
        )
        sub = query.subquery
        rows = bounded_collect(spark.sql(sub), IN_SUBQUERY_CAP)
        if rows is None:
            big.append((parent if negated else n, operands, sub, negated))
            continue
        if len(operands) != 1 or (rows and len(rows[0]) != 1):
            raise SqlDmlError("IN-subquery must select exactly one column")
        vals = [r[0] for r in rows]
        if vals:
            lits = ", ".join(_sql_literal(v) for v in vals)
            subs[id(n)] = (n.raw, ("NOT " if negated else "") + f"IN ({lits})", True)
            in_values[id(n)] = [_py_bound(v) for v in vals]
        else:
            subs[id(n)] = (n.span, "(TRUE)" if negated else "(FALSE)", False)
    if not big:
        return (_render(where, qualifiers, subs), None,
                _prune(where.conjuncts, qualifiers, in_values, point_types))
    term, operands, sub, negated = big[0]
    col = _column(operands[0], qualifiers) if len(operands) == 1 else None
    if col is None:
        raise SqlDmlError(
            f"IN-subquery returns more than {IN_SUBQUERY_CAP} values "
            f"and its operand is not a plain column — only `col [NOT] "
            "IN (SELECT ...)` can run as a distributed semi-join; use "
            "MERGE INTO for join-shaped updates"
        )
    if not any(c is term for c in where.conjuncts):
        raise SqlDmlError(
            f"IN-subquery returns more than {IN_SUBQUERY_CAP} values "
            "and is not a whole top-level conjunct of the WHERE — "
            "its truth value cannot be factored into a semi-join "
            "there; rewrite the predicate or use MERGE INTO"
        )
    if len(big) > 1:
        raise SqlDmlError(
            "at most one oversized IN (SELECT ...) membership "
            "test per statement; use MERGE INTO for multi-set "
            "join updates"
        )
    kept = [c for c in where.conjuncts if c is not term]
    pred = " AND ".join(
        _render(c, qualifiers, subs, parens=True) for c in kept
    ) or None
    return (pred, (col, spark.sql(sub), negated),
            _prune(kept, qualifiers, in_values, point_types))


def _materialize_in_subqueries(spark, pred: str) -> str | None:
    """The predicate text of :func:`_resolve_where` for a WHERE given as
    text."""
    return _resolve_where(spark, _parse(pred, expression=True), {})[0]


def _membership_filter(vt, df, membership):
    """Apply a membership spec to a DataFrame as the exact TRUE-rows
    filter — the dryrun counting path DELEGATES to the same
    ``_membership_plan`` / ``_with_membership`` the real operation runs
    (round-14 review: a hand-rolled twin here could drift from the
    execution semantics, which is exactly what a dryrun must never
    do)."""
    from pyspark.sql import functions as F

    from database_anonymiser_spark.sources.versioned import _MEMBER_MARK

    col, vals, negated, fate, _prune = vt._membership_plan(
        membership, df.schema
    )
    if fate == "never":
        return df.where(F.lit(False))
    if fate == "always":
        return df
    joined, member = vt._with_membership(df, col, vals, negated)
    return joined.where(member).drop(_MEMBER_MARK)


# --------------------------------------------------------------------------
# utility statements: one head table, one walk over Spark's parse
# --------------------------------------------------------------------------

_UTILITY_GRAMMAR = (
    "supported maintenance grammar (Delta's SQL surface on the native ops;\n"
    "ALTER TABLE, TRUNCATE, DROP TABLE, SHOW and ANALYZE ... FOR COLUMNS are\n"
    "Spark SQL's own statements, parsed by Spark):\n"
    "  OPTIMIZE <view> [ZORDER BY (cols) [WHERE <pred>] | MERGE RUNS <k>]\n"
    "      -- WHERE (scoped OPTIMIZE): recluster only stats-overlapping files\n"
    "  VACUUM <view> [RETAIN <n> VERSIONS | RETAIN <h> HOURS] [DRY RUN]\n"
    "  RESTORE [TABLE] <view> TO VERSION AS OF <n> | TO TIMESTAMP AS OF '<ts>'\n"
    "  DESCRIBE HISTORY|DETAIL <view>\n"
    "  ALTER TABLE <view> CLUSTER BY (cols)\n"
    "  ALTER TABLE <view> ADD COLUMN[S] <col> <type> | (<col> <type>, ...)\n"
    "  ALTER TABLE <view> RENAME COLUMN <col> TO <col>\n"
    "  ALTER TABLE <view> DROP COLUMN <col>\n"
    "  ALTER TABLE <view> ALTER COLUMN <col> TYPE <type>   -- lossless widening\n"
    "  ALTER TABLE <view> ADD CONSTRAINT <name> CHECK (<pred>)\n"
    "  ALTER TABLE <view> DROP CONSTRAINT <name>\n"
    "  ALTER TABLE <view> SET TBLPROPERTIES ('k' = 'v', ...)\n"
    "  ALTER TABLE <view> UNSET TBLPROPERTIES ('k', ...)\n"
    "  CREATE TABLE <view> [(col type [GENERATED ALWAYS AS IDENTITY\n"
    "      [(START WITH n STEP m)] | GENERATED ALWAYS AS (<expr>)], ...)]\n"
    "      USING VERSIONED LOCATION '<dir>' [KEY (cols)] [CLUSTER BY (cols)]\n"
    "      [AS <select>]\n"
    "  CREATE TABLE <view> SHALLOW|DEEP CLONE <src> [VERSION AS OF <n>] LOCATION '<dir>'\n"
    "  CREATE MATERIALIZED VIEW <view> USING VERSIONED LOCATION '<dir>'\n"
    "      AS SELECT <keys, count/sum/avg/min/max/approx_count_distinct aggs>\n"
    "      FROM <versioned view> [WHERE <row-local pred>] GROUP BY <keys>\n"
    "  REFRESH MATERIALIZED VIEW <view> [TO VERSION <n>]   -- incremental: O(source changes)\n"
    "  ANALYZE TABLE <view> COMPUTE STATISTICS FOR [COLUMNS a, b]\n"
    "      [BLOOM COLUMNS c, d]         -- footer-only skipping-stats harvest;\n"
    "      bloom sidecars for point lookups (tuple blooms: native analyze())\n"
    "  TRUNCATE TABLE <view>            -- metadata-only: dereference all live files\n"
    "  DROP TABLE [IF EXISTS] <view> | DROP MATERIALIZED VIEW <view>\n"
    "      -- deregister only (external-location semantics: data stays)\n"
    "  SHOW CREATE TABLE <view>         -- executable round-trip DDL\n"
    "  SHOW TBLPROPERTIES <view> [('k')] -- the versioned property map as rows\n"
    "  COPY INTO <view> FROM '<parquet dir or file>'   -- idempotent by file\n"
    "  CONVERT TO VERSIONED '<dir>' KEY (col) [AS <view>]\n"
    "  ERASE FROM <view> WHERE <pred>   -- engine extension: GDPR Art. 17\n"
    "      verified hard delete (delete + vacuum + log-stat scrub +\n"
    "      re-scan verification; time travel below the erase is GONE)\n"
    "  EXPLAIN <statement or single-table SELECT>   -- plan only, zero execution:\n"
    "      classification, target, derived prune ranges + file-count effect,\n"
    "      membership plan (literal vs semi-join), the native op that would run"
)

#: a utility statement's first keyword — read without the JVM, so a
#: statement that starts with any other word costs one regex match
_UTILITY_KEYWORD = re.compile(
    r"\s*(OPTIMIZE|VACUUM|RESTORE|DESCRIBE|ALTER|ERASE|CREATE|COPY|"
    r"CONVERT|TRUNCATE|SHOW|REFRESH|DROP|EXPLAIN|ANALYZE)\b",
    re.I,
)

_T = rf"(?P<t>{_IDENT})"

#: the heads of the statements Spark's grammar does not accept, as
#: ``(keyword, op, head)``.  A head matches the whole statement; its
#: named groups are the record's fields (``t``: the target view).  An
#: embedded predicate, query, column or property list is captured as
#: text and read by Catalyst.  SET/UNSET TBLPROPERTIES are here because
#: Spark's grammar reserves the keys owner, location, provider and
#: external, which the versioned property map accepts.
_HEADS = [(kind, op, re.compile(head, re.I | re.S)) for kind, op, head in (
    ("optimize", "optimize",
     rf"OPTIMIZE\s+{_T}(?:\s+ZORDER\s+BY\s*\((?P<zorder>[^)]*)\)"
     r"|\s+MERGE\s+RUNS\s+(?P<runs>\d+))?(?:\s+WHERE\s+(?P<where>.+))?"),
    ("vacuum", "vacuum",
     rf"VACUUM\s+{_T}(?:\s+RETAIN\s+(?P<n>\d+(?:\.\d+)?)\s+"
     r"(?P<unit>VERSIONS|HOURS))?(?:\s+(?P<dry>DRY\s+RUN))?"),
    ("restore", "restore",
     rf"RESTORE\s+(?:TABLE\s+)?{_T}\s+TO\s+(?:VERSION\s+AS\s+OF\s+"
     r"(?P<v>\d+)|TIMESTAMP\s+AS\s+OF\s+'(?P<ts>[^']+)')"),
    ("erase", "erase", rf"ERASE\s+FROM\s+{_T}\s+WHERE\s+(?P<where>.+)"),
    ("copy", "copy_into", rf"COPY\s+INTO\s+{_T}\s+FROM\s+'(?P<path>[^']+)'"),
    ("convert", "convert",
     r"CONVERT\s+TO\s+VERSIONED\s+'(?P<path>[^']+)'\s+KEY\s*"
     rf"\((?P<key>[^)]*)\)(?:\s+AS\s+(?P<name>{_IDENT}))?"),
    ("refresh", "refresh_materialized_view",
     rf"REFRESH\s+MATERIALIZED\s+VIEW\s+{_T}(?:\s+TO\s+VERSION\s+(?P<v>\d+))?"),
    ("drop", "drop_table", rf"DROP\s+MATERIALIZED\s+VIEW\s+{_T}"),
    ("describe", "describe", rf"DESCRIBE\s+(?P<what>HISTORY|DETAIL)\s+{_T}"),
    ("analyze", "analyze",
     rf"ANALYZE\s+TABLE\s+{_T}\s+COMPUTE\s+STATISTICS\s+FOR"
     r"(?:\s+COLUMNS\s+(?P<stats>.+?))?\s+BLOOM\s+COLUMNS\s+(?P<bloom>.+)"),
    ("alter", "set_properties",
     rf"ALTER\s+TABLE\s+{_T}\s+SET\s+TBLPROPERTIES\s*(?P<props>\(.*\))"),
    ("alter", "unset_properties",
     rf"ALTER\s+TABLE\s+{_T}\s+UNSET\s+TBLPROPERTIES\s*(?P<props>\(.*\))"),
    ("create", "create_materialized_view",
     rf"CREATE\s+MATERIALIZED\s+VIEW\s+{_T}\s+USING\s+VERSIONED\s+"
     r"LOCATION\s+'(?P<loc>[^']+)'\s+AS\s+(?P<query>.+)"),
    ("create", "clone",
     rf"CREATE\s+TABLE\s+{_T}\s+(?P<mode>SHALLOW|DEEP)\s+CLONE\s+"
     rf"(?P<source>{_IDENT})(?:\s+VERSION\s+AS\s+OF\s+(?P<v>\d+))?"
     r"\s+LOCATION\s+'(?P<loc>[^']+)'"),
    ("create", "create_table", rf"CREATE\s+TABLE\s+{_T}(?P<body>.*)"),
    ("explain", "explain", r"EXPLAIN\s+(?P<inner>.+)"),
)]

#: the keywords Spark's grammar parses, with the plan nodes each claims
#: (None: every ALTER TABLE command — on a versioned target a sub-shape
#: the engine does not run refuses with the grammar)
_CATALYST = {
    "alter": None,
    "truncate": ("TruncateTable", "TruncatePartition"),
    "show": ("ShowTableProperties", "ShowCreateTable"),
    "drop": ("DropTable",),
    "analyze": ("AnalyzeColumn", "AnalyzeTable"),
}

#: refusal texts that say more than "unsupported <KEYWORD> shape"
_SHAPE_HINTS = {
    "alter": "unsupported ALTER TABLE shape",
    "erase": "ERASE needs FROM <view> WHERE <pred> (an unscoped erase "
             "would be DELETE-the-table; write it explicitly)",
    "analyze": "ANALYZE needs: ANALYZE TABLE <view> COMPUTE STATISTICS "
               "FOR [COLUMNS a, b] [BLOOM COLUMNS c, d]",
}

#: keywords that are not Spark SQL at all: the keyword alone claims the
#: statement, so a malformed shape refuses with the engine's grammar
_KEYWORD_CLAIMED = ("optimize", "vacuum", "restore", "erase", "copy", "convert")

#: the keywords whose statements write their target
_WRITES = ("optimize", "vacuum", "restore", "erase", "alter", "copy",
           "truncate", "analyze")

#: the keywords whose statements open no existing versioned table
_NO_TABLE = ("create", "convert", "drop", "explain")


@dataclass
class _Shape:
    op: str | None                  # what execution runs; None: refused
    target: str | None = None       # the view it names, unquoted
    args: dict = field(default_factory=dict)
    error: str | None = None        # the refusal, when op is None


class _Utility:
    """One utility statement: its keyword, read without the JVM, and its
    shape, read on first use — the engine head it matches, or one walk
    over Spark's parse of it."""

    def __init__(self, kind: str, text: str):
        self.kind, self.text = kind, text

    @cached_property
    def shape(self) -> _Shape:
        for kind, op, head in _HEADS:
            m = head.fullmatch(self.text) if kind == self.kind else None
            if m:
                args = m.groupdict()
                target = args.pop("t", None)
                target = target and _unquote(target)
                try:
                    return _Shape(op, target, _head_args(op, args))
                except SqlDmlError as e:
                    return _Shape(None, target, error=str(e))
        hint = _SHAPE_HINTS.get(self.kind, f"unsupported {self.kind.upper()} shape")
        if self.kind not in _CATALYST:
            return _Shape(None, error=f"{hint}\n{_UTILITY_GRAMMAR}")
        try:
            plan = _parse(self.text, grammar=_UTILITY_GRAMMAR)
        except SqlDmlError as e:
            return _Shape(None, error=f"{hint}\n{e}")
        return _catalyst_shape(self.kind, plan, f"{hint}\n{_UTILITY_GRAMMAR}")


@lru_cache(maxsize=256)
def _parse_utility(stmt: str) -> "_Utility | None":
    """The utility record of ``stmt``, or None when its first keyword is
    not a utility keyword (no JVM call either way: the shape is read on
    first use).  Records are memoized by text, so the router's claim,
    the rollback bookkeeping and the execution of one statement share
    one parse."""
    head = _UTILITY_KEYWORD.match(stmt)
    return _Utility(head.group(1).lower(), _strip_stmt(stmt)) if head else None


def _column_list(text: str) -> tuple[str, ...]:
    """The names of a column list (``a, `b c```), read as Spark reads a
    projection of bare columns."""
    plan = _parse(f"SELECT {text}", grammar=_UTILITY_GRAMMAR)
    items = (
        [plan.at(e) for e in _seq(plan.j.projectList())]
        if plan.kind == "Project"
        and plan.j.child().nodeName() == "OneRowRelation" else []
    )
    if not items or any(
        i.kind != "UnresolvedAttribute" or len(i.parts) != 1 for i in items
    ):
        raise SqlDmlError(f"expected a list of columns, got ({text})")
    return tuple(i.parts[0] for i in items)


def _head_args(op: str, a: dict) -> dict:
    """An engine head's fields, its ANALYZE column lists and TBLPROPERTIES
    lists read by Catalyst.  SET's list is read by Spark's property-list
    grammar under SERDEPROPERTIES, which reserves no key; UNSET's keys (a
    string or a dotted name each) are read as an array's arguments."""
    if op == "analyze":
        return {"stats": _column_list(a["stats"]) if a["stats"] else (),
                "bloom": _column_list(a["bloom"])}
    if op == "set_properties":
        plan = _parse(f"ALTER TABLE t SET SERDEPROPERTIES {a['props']}",
                      grammar=_UTILITY_GRAMMAR)
        props, it = {}, plan.j.serdeProperties().get().iterator()
        while it.hasNext():
            kv = it.next()
            props[kv._1()] = kv._2()
        if "" in props:
            raise SqlDmlError("malformed TBLPROPERTIES item: empty key")
        return {"properties": props}
    if op == "unset_properties":
        arr = _parse(f"array{a['props']}", expression=True,
                     grammar=_UTILITY_GRAMMAR)
        keys = arr.kids if arr.kind == "UnresolvedFunction" else []
        out = [
            k.lit[1] if k.lit and k.lit[0] == "string"
            else ".".join(k.parts) if k.kind == "UnresolvedAttribute" else ""
            for k in keys
        ]
        if not out or "" in out:
            raise SqlDmlError(
                f"malformed UNSET TBLPROPERTIES list {a['props']}; "
                "expected ('key', ...)"
            )
        return {"keys": out}
    return a


def _datatype(j):
    """A parsed JVM data type as PySpark's."""
    from pyspark.sql.types import _parse_datatype_json_string

    return _parse_datatype_json_string(j.json())


def _table_name(plan: _Node) -> str | None:
    """The table a command names: its leaf relation's identifier."""
    j = plan.j
    while j.children().size():
        j = j.children().apply(0)
    kind = j.nodeName()
    if kind == "UnresolvedIdentifier":
        return ".".join(_seq(j.nameParts()))
    if kind in ("UnresolvedTable", "UnresolvedTableOrView", "UnresolvedRelation"):
        return ".".join(_seq(j.multipartIdentifier()))
    return None


def _catalyst_shape(kind: str, plan: _Node, refusal: str) -> _Shape:
    """The one walk over a Spark-grammar utility statement: a claimed
    plan node names its target; a shape the engine runs fills ``op`` and
    ``args``, any other refuses with ``refusal``."""
    j, node = plan.j, plan.kind
    claims = _CATALYST[kind]
    target = _table_name(plan) if claims is None or node in claims else None
    refuse = _Shape(None, target, error=refusal)
    if target is None:
        return refuse
    if node == "AddColumns":
        cols = []
        for c in _seq(j.columnsToAdd()):
            name = _seq(c.name())
            if len(name) != 1 or not c.nullable() or any(
                o.isDefined() for o in (c.comment(), c.position(), c.default())
            ):
                return _Shape(None, target, error=(
                    "ADD COLUMNS takes `<col> <type>` items: a nested field, "
                    "NOT NULL, COMMENT, FIRST/AFTER or DEFAULT is not "
                    f"supported\n{_UTILITY_GRAMMAR}"
                ))
            cols.append((name[0], _datatype(c.dataType())))
        return _Shape("add_column", target, {"columns": cols})
    if node == "RenameColumn":
        old = _seq(j.column().name())
        if len(old) == 1:
            return _Shape("rename_column", target,
                          {"from": old[0], "to": j.newName()})
    if node == "DropColumns":
        cols = [_seq(c.name()) for c in _seq(j.columnsToDrop())]
        if not j.ifExists() and len(cols) == 1 and len(cols[0]) == 1:
            return _Shape("drop_column", target, {"column": cols[0][0]})
    if node == "AlterColumns":
        specs = _seq(j.specs())
        spec = specs[0] if len(specs) == 1 else None
        col = _seq(spec.column().name()) if spec is not None else []
        if (
            len(col) == 1 and spec.newDataType().isDefined()
            and not spec.dropDefault() and not any(o.isDefined() for o in (
                spec.newNullability(), spec.newComment(),
                spec.newPosition(), spec.newDefaultExpression(),
            ))
        ):
            return _Shape("widen_column", target, {
                "column": col[0], "type": _datatype(spec.newDataType().get()),
            })
    if node == "AddCheckConstraint":
        cc = j.checkConstraint()
        if cc.userProvidedName() is not None:
            # the predicate as the user wrote it: its origin slice
            return _Shape("add_constraint", target, {
                "name": cc.userProvidedName(),
                "predicate": _render(plan.at(cc.child()), {}),
            })
    if node == "DropConstraint" and not j.ifExists() and not j.cascade():
        return _Shape("drop_constraint", target, {"name": j.name()})
    if node == "AlterTableClusterBy":
        spec = _opt(j.clusterBySpec())
        cols = [list(n.fieldNames()) for n in _seq(spec.columnNames())] if spec else []
        if all(len(c) == 1 for c in cols):
            return _Shape("set_clustering", target,
                          {"cols": tuple(c[0] for c in cols)})
    if node == "TruncateTable":
        return _Shape("truncate", target)
    if node == "ShowTableProperties":
        return _Shape("show_tblproperties", target, {"key": _opt(j.propertyKey())})
    if node == "ShowCreateTable" and not j.asSerde():
        return _Shape("show_create_table", target)
    if node == "DropTable" and not j.purge():
        return _Shape("drop_table", target)
    if node == "AnalyzeColumn" and not j.allColumns():
        return _Shape("analyze", target, {
            "stats": tuple(_seq(j.columnNames().get())), "bloom": (),
        })
    return refuse


def classify_utility(stmt: str) -> str | None:
    """'optimize' | 'vacuum' | 'restore' | 'describe' | 'alter' | ...
    when the statement STARTS like one of the table-maintenance shapes
    (Delta's SQL surface for the same ops), else None. Keyword-level
    only — the router must use :func:`claim_utility`, which also checks
    the SHAPE and the target, because DESCRIBE/ALTER/CREATE are valid
    plain Spark SQL too (round-14 advice fix: round 13 claimed every
    DESCRIBE/ALTER and broke e.g. ``DESCRIBE customer``)."""
    u = _parse_utility(stmt)
    return u.kind if u else None


def _versioned_create(sh: _Shape) -> bool:
    """A CREATE that carries the explicit ``USING VERSIONED`` marker
    (Spark's ``USING delta``)."""
    return sh.op == "create_materialized_view" or (
        sh.op == "create_table"
        and _find(sh.args["body"], _mask(sh.args["body"]), r"\bUSING\s+VERSIONED\b")
        is not None
    )


def claim_utility(stmt: str, versioned_views: dict[str, dict]) -> str | None:
    """The router's claim check: the utility kind when
    :func:`execute_utility` will actually handle this statement, else
    None (the caller falls through to ``spark.sql``).

    OPTIMIZE / VACUUM / RESTORE / ERASE / COPY INTO / CONVERT are not
    Spark SQL statements at all, so the keyword alone claims them.
    Every other keyword exists in plain Spark SQL, so only the engine's
    own shapes are claimed: a statement on a registered versioned view
    (``DESCRIBE HISTORY|DETAIL``, ``REFRESH`` / ``DROP MATERIALIZED
    VIEW``, and every ALTER TABLE, TRUNCATE, DROP TABLE, SHOW CREATE
    TABLE / TBLPROPERTIES and ANALYZE Spark parses), a ``CREATE ...
    USING VERSIONED`` or a clone of a versioned view, and an EXPLAIN of
    a claimed statement or of a single-table SELECT on a versioned view.
    A statement with no utility keyword costs no JVM call."""
    u = _parse_utility(stmt)
    if u is None:
        return None
    if u.kind in _KEYWORD_CLAIMED:
        return u.kind
    sh = u.shape
    if u.kind == "explain":
        return u.kind if sh.op and _explained(sh.args["inner"], versioned_views) else None
    name = sh.target
    if u.kind == "create":
        if sh.op != "clone":
            return u.kind if _versioned_create(sh) else None
        name = _unquote(sh.args["source"])
    return u.kind if name and name.lower() in versioned_views else None


def _explained(inner: str, versioned_views: dict) -> bool:
    """Whether EXPLAIN of ``inner`` is the engine's: a claimed DML or
    utility statement, or a single-table SELECT on a versioned view
    (every other EXPLAIN is Spark's own)."""
    if classify_dml(inner):
        try:
            t = statement_target(inner)
        except SqlDmlError:
            return False  # Spark's EXPLAIN reports the parse error
        return bool(t) and t.lower() in versioned_views
    if _parse_utility(inner) is not None:
        return claim_utility(inner, versioned_views) is not None
    scan = _select_scan(inner)
    return scan is not None and scan[0].lower() in versioned_views


#: the one-child operators a single-table SELECT stacks over its relation
_SCAN_CHAIN = frozenset({
    "Project", "Aggregate", "Filter", "UnresolvedHaving", "Sort",
    "GlobalLimit", "LocalLimit", "Offset", "Distinct",
})


def _select_scan(text: str) -> "tuple[str, dict, _Node | None] | None":
    """``(view, qualifiers, WHERE)`` of a single-table SELECT — one-child
    operators over one relation — else None.  The WHERE is the Filter
    right above the relation: a HAVING filters groups, not rows."""
    try:
        node = _parse(text)
    except SqlDmlError:
        return None
    where = None
    while node.kind in _SCAN_CHAIN:
        child = node.at(node.j.child())
        if node.kind == "Filter" and child.kind in ("SubqueryAlias", "UnresolvedRelation"):
            where = node.at(node.j.condition())
        node = child
    try:
        name, qual = _relation(node, True, "EXPLAIN source")
    except SqlDmlError:
        return None
    return name, {name.lower(): "", qual.lower(): ""}, where


def created_view_name(stmt: str) -> str | None:
    """The view a ``CREATE TABLE ... USING VERSIONED`` or ``CONVERT ...
    AS <name>`` statement WILL register, for the script router's
    speculative pre-scan (round 14): later statements in the same script
    target tables that exist only once the earlier ones run, so the
    all-routed check must see the names before execution."""
    u = _parse_utility(stmt)
    if u is None or u.kind not in ("create", "convert"):
        return None
    sh = u.shape
    if sh.op == "convert":
        return sh.args["name"] and _unquote(sh.args["name"])
    return sh.target if sh.op == "clone" or _versioned_create(sh) else None


def statement_target(stmt: str) -> str | None:
    """The UNQUOTED table a DML or mutating-maintenance statement
    touches, for the CLI's rollback bookkeeping — read by the statement
    fronts themselves, so quoted targets (``UPDATE `cust` SET ...``) are
    tracked too (round-14 advice fix: the CLI's ad-hoc bare-identifier
    regex silently skipped quoted views, leaving them un-restored on
    --sqlRollbackOnError). Returns None for non-mutating statements
    (DESCRIBE) and shapes without a view target (CONVERT — it creates
    the table it names)."""
    if classify_dml(stmt):  # a DML target comes from Spark's parse
        return _parse_dml(stmt).target
    u = _parse_utility(stmt)
    return u.shape.target if u is not None and u.kind in _WRITES else None


def _register_versioned_view(spark, name: str, root: str,
                             versioned_views: dict) -> None:
    """Make a table CREATE/CONVERT just produced addressable by the rest
    of the session/script: register the DataSource read face as a temp
    view under ``name`` and add it to ``versioned_views`` (un-pinned) so
    subsequent DML/maintenance statements can target it."""
    from database_anonymiser_spark.sources.spark_datasource import (
        VersionedDataSource,
    )

    try:
        spark.dataSource.register(VersionedDataSource)
    except Exception:
        pass  # already registered
    reader = spark.read.format("versioned").option("path", str(root))
    # match the session's SELECT face (round-14 review): when the CLI
    # enabled pushdown (the default) it set this conf — a mid-script
    # CREATE must not register a slower, inconsistent plain-scan view
    if (
        str(
            spark.conf.get("spark.sql.python.filterPushdown.enabled", "false")
        ).lower()
        == "true"
    ):
        reader = reader.option("pushdown", "true")
    reader.load().createOrReplaceTempView(name)
    versioned_views[name.lower()] = {"root": str(root), "pinned": False}


def show_create_table(t, name: str, versioned_views: dict | None = None) -> str:
    """Delta's ``SHOW CREATE TABLE``: render the table's CURRENT shape
    as the engine's own executable SQL (the round-14 CREATE grammar),
    followed by ALTER statements for constraints and user properties —
    so the output, pointed at a fresh LOCATION, recreates the table
    shape through the same face that prints it (round-trip pinned in
    pytest). Pure metadata: logged schema + key + clustering +
    constraint/property maps, zero data reads.

    A MATERIALIZED VIEW renders as its ``CREATE MATERIALIZED VIEW ...
    AS SELECT`` definition (round 15 — the plain-CREATE rendering would
    have recreated a table that LOOKS like an MV, ivm.* properties and
    all, without its content contract). The FROM name resolves by
    reverse-looking the recorded source root up in the session's
    registrations; an unregistered source renders a placeholder the
    caller must substitute."""
    props0 = t._raw_properties() or {}
    if "'" in str(t.root):
        # the CREATE grammar's LOCATION literal cannot express a quote
        raise SqlDmlError(
            f"SHOW CREATE TABLE cannot render location {str(t.root)!r}: "
            "a single quote in the path is not expressible in the "
            "LOCATION literal"
        )

    def _alter_tail(extra_skip: tuple = ()) -> list:
        out = []
        for cname, pred in sorted((t.constraints() or {}).items()):
            out.append(
                f"ALTER TABLE {name} ADD CONSTRAINT {cname} CHECK ({pred})"
            )
        up = {
            k: v for k, v in props0.items()
            # engine-managed slots are rendered structurally (CLUSTER
            # BY, the MV definition) or not re-creatable
            # (protocol/identity/generated)
            if not k.startswith(
                ("protocol.", "identity.", "generated.", "clustering.")
                + extra_skip
            )
        }
        if up:
            kv = ", ".join(
                f"{_sq_quote(k)} = {_sq_quote(v)}"
                for k, v in sorted(up.items())
            )
            out.append(f"ALTER TABLE {name} SET TBLPROPERTIES ({kv})")
        return out

    if all(k in props0 for k in ("ivm.source", "ivm.keys", "ivm.aggs")):
        # a COMPLETE ivm contract renders as the MV definition; a table
        # merely carrying a hand-set ivm.source property falls through
        # to the plain rendering (round-15 review fix: KeyError)
        import json as _json

        keys = _json.loads(props0["ivm.keys"])
        aggs = _json.loads(props0["ivm.aggs"])
        src_root = props0["ivm.source"]
        src_name = next(
            (n for n, m in (versioned_views or {}).items()
             if str(m.get("root")) == src_root),
            None,
        )
        items = list(keys)
        for col, (kind, expr) in aggs.items():
            fn = {
                "approx_distinct": "approx_count_distinct",
            }.get(kind, kind)
            arg = "*" if (kind == "count" and expr is None) else expr
            items.append(f"{fn}({arg}) AS {col}")
        q = f"SELECT {', '.join(items)} FROM {src_name or '<source_view>'}"
        if props0.get("ivm.filter"):
            q += f" WHERE {props0['ivm.filter']}"
        q += f" GROUP BY {', '.join(keys)}"
        lines = []
        if src_name is None:
            lines.append(
                f"-- source root: {src_root} — register it as a "
                "--versionedTable view and substitute its name for "
                "<source_view>"
            )
        head_mv = (
            f"CREATE MATERIALIZED VIEW {name} USING VERSIONED "
            f"LOCATION '{t.root}' AS {q}"
        )
        # user properties / constraints / clustering survive the
        # round-trip on MVs too (round-15 review fix: they were
        # silently dropped); the ivm.* contract itself is the CREATE
        parts = [head_mv]
        clus = tuple(t.clustering_cols() or ())
        if clus:
            parts.append(
                f"ALTER TABLE {name} CLUSTER BY ({', '.join(clus)})"
            )
        parts.extend(_alter_tail(extra_skip=("ivm.",)))
        return "\n".join(lines + [";\n".join(parts) + ";"])
    sch = t._log_schema() or t.snapshot().schema
    ident = t.identity_column()
    gens = {
        k[len("generated."):]: v
        for k, v in props0.items()
        if k.startswith("generated.")
    }
    rendered = []
    for f in sch.fields:
        item = f"{f.name} {f.dataType.simpleString()}"
        if ident is not None and f.name == ident[0]:
            # START WITH the CURRENT high-water: a round-tripped shape
            # allocates above every id the source ever issued
            item += (
                f" GENERATED ALWAYS AS IDENTITY "
                f"(START WITH {ident[2]} STEP {ident[1]})"
            )
        elif f.name in gens:
            item += f" GENERATED ALWAYS AS ({gens[f.name]})"
        rendered.append(item)
    cols = ", ".join(rendered)
    head = f"CREATE TABLE {name} ({cols}) USING VERSIONED LOCATION '{t.root}'"
    key = tuple(t.key_cols() or ())
    if key:
        head += f" KEY ({', '.join(key)})"
    clus = tuple(t.clustering_cols() or ())
    if clus:
        head += f" CLUSTER BY ({', '.join(clus)})"
    parts = [head]
    parts.extend(_alter_tail())
    return ";\n".join(parts) + ";"


def _execute_create_materialized(spark, sh: _Shape, stmt: str,
                                 versioned_views: dict) -> dict:
    """``CREATE MATERIALIZED VIEW mv USING VERSIONED LOCATION '<dir>'
    AS SELECT <keys, count/sum/avg aggs> FROM <versioned view> GROUP BY
    <keys>`` (round 14) — the incremental-view face: the full aggregate
    materializes once, and ``REFRESH MATERIALIZED VIEW`` thereafter
    advances it by the source's change feed at O(changes) cost
    (sources/materialized.py). The source must be a versioned view (a
    plain --data parquet view has no change feed to refresh from)."""
    from database_anonymiser_spark.sources.materialized import (
        create_materialized,
        parse_mv_query,
    )

    name, loc = sh.target, sh.args["loc"]
    if name.lower() in versioned_views:
        raise SqlDmlError(
            f"CREATE MATERIALIZED VIEW {name!r}: the view is already "
            "registered; refusing to shadow it"
        )
    try:
        src_view, keys, aggs, filt = parse_mv_query(sh.args["query"].strip())
    except ValueError as e:
        raise SqlDmlError(str(e)) from e
    src_meta = versioned_views.get(src_view.lower())
    if src_meta is None:
        raise SqlDmlError(
            f"materialized-view source {src_view!r} is not a versioned "
            "view — incremental refresh needs the source's change feed "
            "(--versionedTable registers one)"
        )
    if src_meta["pinned"]:
        raise SqlDmlError(
            f"materialized-view source {src_view!r} is pinned; a frozen "
            "source never changes — materialize a plain CTAS instead"
        )
    try:
        mv = create_materialized(
            spark, loc, src_meta["root"], keys, aggs, filter_sql=filt,
        )
    except OSError as e:
        raise SqlDmlError(f"CREATE refused: {e}") from e
    _register_versioned_view(spark, name, loc, versioned_views)
    # re-register the temp view over the VISIBLE columns only (the
    # hidden avg companions are maintenance state, not user surface)
    (
        spark.read.format("versioned").option("path", loc).load()
        .select(*keys, *aggs.keys())
        .createOrReplaceTempView(name)
    )
    return {
        "mode": "sql_utility", "op": "create_materialized_view",
        "table": name, "root": loc, "source": src_view,
        "num_rows": int(mv.row_count(mv.latest_version())),
        "statement": stmt,
    }


def _execute_create(spark, sh: _Shape, stmt: str, versioned_views: dict) -> dict:
    """``CREATE TABLE ... USING VERSIONED`` — empty-schema or CTAS form,
    into a fresh versioned root (``VersionedTable.create``); the new
    table registers into the session and ``versioned_views`` so the rest
    of the script can write to it. The column list and AS-select are
    mutually exclusive (one schema authority). Native filesystem
    refusals (existing table at the location, missing clone source)
    re-raise as :class:`SqlDmlError` so a script aborts the STATEMENT
    cleanly instead of crashing the runner (round 14)."""
    from database_anonymiser_spark.sources.versioned import VersionedTable

    if sh.op == "create_materialized_view":
        return _execute_create_materialized(spark, sh, stmt, versioned_views)
    name, a = sh.target, sh.args
    if name.lower() in versioned_views:
        raise SqlDmlError(
            f"CREATE TABLE {name!r}: the view is already registered; "
            "refusing to shadow it"
        )
    if sh.op == "clone":
        # CREATE TABLE dst SHALLOW|DEEP CLONE src [VERSION AS OF n]
        #   LOCATION '<dir>' (round 14)
        src_meta = versioned_views.get(_unquote(a["source"]).lower())
        if src_meta is None:
            raise SqlDmlError(
                f"CLONE source {a['source']!r} is not a versioned view"
            )
        try:
            t = VersionedTable.clone(
                spark, src_meta["root"], a["loc"],
                version=int(a["v"]) if a["v"] else None,
                deep=a["mode"].upper() == "DEEP",
            )
        except OSError as e:
            raise SqlDmlError(f"CLONE refused: {e}") from e
        _register_versioned_view(spark, name, a["loc"], versioned_views)
        return {
            "mode": "sql_utility", "op": "clone", "table": name,
            "source": _unquote(a["source"]), "root": a["loc"],
            "deep": a["mode"].upper() == "DEEP",
            "num_rows": int(t.row_count(t.latest_version())),
            "statement": stmt,
        }
    s = a["body"].lstrip()
    i = 0
    mask = _mask(s)
    schema_ddl = None
    if s[:1] == "(":
        close = next(
            (j for j in range(1, len(s)) if s[j] == ")" and mask[j] == (0, True)),
            -1,
        )
        if close < 0:
            raise SqlDmlError(f"unbalanced column list in CREATE\n{_UTILITY_GRAMMAR}")
        schema_ddl = s[1:close].strip()
        i = close + 1
    m = re.match(
        r"\s*USING\s+VERSIONED\s+LOCATION\s+'(?P<loc>[^']+)'", s[i:], re.I
    )
    if not m:
        raise SqlDmlError(
            f"CREATE TABLE needs USING VERSIONED LOCATION '<dir>'\n"
            f"{_UTILITY_GRAMMAR}"
        )
    root = m.group("loc")
    i += m.end()
    key_cols: tuple = ()
    km = re.match(r"\s*KEY\s*\((?P<k>[^)]*)\)", s[i:], re.I)
    if km:
        key_cols = _column_list(km.group("k"))
        i += km.end()
    cluster: tuple = ()
    cm = re.match(r"\s*CLUSTER\s+BY\s*\((?P<c>[^)]*)\)", s[i:], re.I)
    if cm:
        cluster = _column_list(cm.group("c"))
        i += cm.end()
    rest = s[i:].strip()
    gen_map: dict[str, str] = {}
    ident_col: str | None = None
    ident_start, ident_step = 1, 1
    if rest:
        am = re.match(r"AS\b(.*)$", rest, re.I | re.S)
        if not am or not am.group(1).strip():
            raise SqlDmlError(
                f"unexpected trailing text in CREATE: {rest[:60]!r}\n"
                f"{_UTILITY_GRAMMAR}"
            )
        if schema_ddl is not None:
            raise SqlDmlError(
                "CREATE TABLE takes a column list OR AS <select>, not both"
            )
        df = spark.sql(am.group(1).strip())
    elif schema_ddl is not None:
        # column items may carry GENERATED ALWAYS AS IDENTITY
        # [(START WITH n STEP m)] or GENERATED ALWAYS AS (<expr>) —
        # the natives' creation-time-only column classes (round 14)
        plain_items: list[str] = []
        for item in _split_top(schema_ddl):
            im = re.match(
                rf"\s*({_IDENT})\s+(?P<rest>.+)$", item, re.S
            )
            if not im:
                raise SqlDmlError(
                    f"malformed column item {item.strip()!r} in CREATE"
                )
            cname = _unquote(im.group(1))
            body = im.group("rest").strip()
            gm = re.search(
                r"\bGENERATED\s+ALWAYS\s+AS\s+", body, re.I
            )
            if gm:
                dtype = body[: gm.start()].strip()
                tail = body[gm.end():].strip()
                idm = re.match(
                    r"IDENTITY(?:\s*\(\s*START\s+WITH\s+(?P<st>-?\d+)"
                    r"\s+STEP\s+(?P<sp>-?\d+)\s*\))?\s*$",
                    tail, re.I,
                )
                if idm:
                    if ident_col is not None:
                        raise SqlDmlError(
                            "at most one IDENTITY column per table"
                        )
                    ident_col = cname
                    if idm.group("st") is not None:
                        ident_start = int(idm.group("st"))
                        ident_step = int(idm.group("sp"))
                    # the identity column is allocated by the engine —
                    # it is not part of the created frame's schema
                    continue
                if not (tail.startswith("(") and tail.endswith(")")):
                    raise SqlDmlError(
                        f"GENERATED ALWAYS AS needs IDENTITY or "
                        f"(<expr>), got {tail[:40]!r}"
                    )
                gen_map[cname] = tail[1:-1].strip()
                plain_items.append(f"{cname} {dtype}")
            else:
                plain_items.append(f"{cname} {body}")
        if not plain_items:
            raise SqlDmlError("CREATE TABLE needs at least one column")
        df = spark.createDataFrame([], ", ".join(plain_items))
    else:
        raise SqlDmlError(
            f"CREATE TABLE needs a column list or AS <select>\n"
            f"{_UTILITY_GRAMMAR}"
        )
    key_arg = (
        None if not key_cols
        else (key_cols[0] if len(key_cols) == 1 else list(key_cols))
    )
    try:
        t = VersionedTable.create(
            spark, root, df, key_col=key_arg,
            generated=gen_map or None,
            identity_col=ident_col,
            identity_start=ident_start,
            identity_step=ident_step,
        )
    except OSError as e:
        raise SqlDmlError(f"CREATE refused: {e}") from e
    if cluster:
        t.set_clustering(cluster)
    _register_versioned_view(spark, name, root, versioned_views)
    return {
        "mode": "sql_utility", "op": "create_table", "table": name,
        "root": str(root), "new_version": int(t.latest_version()),
        "num_rows": int(t.row_count(t.latest_version())), "statement": stmt,
    }


def _utility_target(spark, kind: str, name: str, versioned_views: dict,
                    mutating: bool = True):
    """The versioned table a utility statement works on, after the
    refusals every statement of its kind makes — execution and EXPLAIN
    alike.  Mutating statements require an UN-pinned view; reads
    (DESCRIBE, SHOW, VACUUM ... DRY RUN) work on pinned registrations
    too (they read the log, not a snapshot)."""
    from database_anonymiser_spark.sources.versioned import VersionedTable

    meta = versioned_views.get(name.lower())
    if meta is None:
        raise SqlDmlError(
            f"{kind.upper()} target {name!r} is not a versioned view "
            "(--versionedTable registers one)"
        )
    if mutating and meta["pinned"]:
        raise SqlDmlError(
            f"{kind.upper()} target {name!r} is pinned to a historical "
            "version/timestamp; maintenance runs at the head only"
        )
    t = VersionedTable(spark, meta["root"])
    # content-rewriting maintenance on a MATERIALIZED VIEW would
    # diverge it from its definition while the recorded watermark
    # masks the divergence (round 14); layout ops (OPTIMIZE, VACUUM,
    # CLUSTER BY) and reads stay allowed — they preserve the rows
    if kind in ("restore", "truncate", "erase") and "ivm.source" in (
        t._raw_properties() or {}
    ):
        raise SqlDmlError(
            f"{kind.upper()} target {name!r} is a MATERIALIZED VIEW "
            "— its contents are derived; mutate the source and "
            "REFRESH MATERIALIZED VIEW (or drop and re-create the "
            "view) instead"
        )
    return t


def _mutating(sh: _Shape) -> bool:
    """Whether the statement writes (a DRY RUN only lists candidates)."""
    return sh.op not in (
        "describe", "show_tblproperties", "show_create_table"
    ) and not sh.args.get("dry")


def _optimize_plan(t, a: dict) -> tuple[str, dict]:
    """The native op an OPTIMIZE runs and its arguments, after its
    refusals — execution calls it, EXPLAIN reports it.

    ``WHERE`` (round 15 — Delta's scoped OPTIMIZE) reclusters ONLY the
    files whose stats overlap the predicate's derived range, rewritten
    whole (the row set must not change): ``optimize_zorder(where=)``
    with the range :func:`derive_prune` derives for SQL UPDATE/DELETE.
    Without ZORDER BY, a CLUSTER BY table clusters incrementally
    (``MERGE RUNS k``: the bounded cross-generation merge) and any other
    table compacts."""
    if a["where"] is not None:
        if not a["zorder"]:
            raise SqlDmlError(
                "OPTIMIZE ... WHERE needs ZORDER BY (<cols>): the "
                "scoped rewrite is a scoped z-order; incremental "
                "clustering (OPTIMIZE on a CLUSTER BY table) is "
                "already scoped to unclustered files"
            )
        rng = derive_prune(a["where"].strip())
        if not rng:
            raise SqlDmlError(
                "OPTIMIZE ... WHERE derives no file-skipping range "
                "from the predicate (top-level AND of col-vs-literal "
                "conjuncts required) — an unscoped WHERE would "
                "silently rewrite the whole table; drop the WHERE "
                "to do that explicitly"
            )
        return "optimize_zorder", {"cols": _column_list(a["zorder"]), "where": rng}
    if a["zorder"]:
        return "optimize_zorder", {"cols": _column_list(a["zorder"])}
    if t.clustering_cols():
        runs = a["runs"]
        return "optimize_cluster", {"merge_runs": None if runs is None else int(runs)}
    if a["runs"] is not None:
        raise SqlDmlError(
            "OPTIMIZE ... MERGE RUNS needs a declared clustering key "
            "(ALTER TABLE ... CLUSTER BY first)"
        )
    return "compact", {}


def _execute_explain(spark, inner: str, stmt: str, versioned_views: dict) -> dict:
    """``EXPLAIN <statement>`` (round 15): the statement front's OWN
    plan with ZERO mutation — classification, target, the derived
    file-skipping ranges (:func:`derive_prune`), their file-count
    effect probed against the live commit-log stats (driver metadata
    arithmetic, no data scan), the membership plan an ``IN (SELECT
    ...)`` term resolves to (literal inline vs distributed semi-join —
    the subquery runs read-only, the identical decision procedure the
    real statement uses), and the native operation that would commit.
    A maintenance statement goes through the same validation as its
    execution, so explaining a statement that would refuse refuses with
    the same message.  Reference parity: the closest reference surface
    is the BEGIN … ROLLBACK dryrun (``executor.ts:98-136``), which
    counts rows; EXPLAIN stays at the metadata level and never reads
    table data."""
    from database_anonymiser_spark.sources.versioned import VersionedTable

    out: dict = {"mode": "sql_explain", "op": "explain", "statement": stmt}

    def _vt(name: str) -> "VersionedTable":
        meta = versioned_views.get(name.lower())
        if meta is None:
            raise SqlDmlError(
                f"EXPLAIN target {name!r} is not a versioned view"
            )
        out["table"] = name
        out["pinned"] = bool(meta["pinned"])
        return VersionedTable(spark, meta["root"])

    def _scan_effect(vt, prune: dict):
        total = len(vt.files_matching({}))
        out["prune"] = {
            c: (list(b) if isinstance(b, tuple)
                else {"in": sorted(b)} if isinstance(b, set) else b)
            for c, b in (prune or {}).items()
        }
        out["files_total"] = total
        out["files_would_read"] = (
            len(vt.files_matching(prune)) if prune else total
        )

    def _where_effect(vt, where, table: str):
        """Resolve the WHERE exactly as execution would — [NOT] IN
        (SELECT ...) included — and report which plan such a term takes
        and what the derived skipping reads."""
        quals = {table.lower(): ""}
        new_pred, membership, prune = _resolve_where(
            spark, where, quals, _point_types(vt._log_schema())
        )
        if membership is not None:
            col, subjects, negated = membership
            out["membership"] = {
                "plan": "semi_join", "column": col, "negated": bool(negated),
                "reason": f"subquery exceeds IN_SUBQUERY_CAP="
                          f"{IN_SUBQUERY_CAP}: subjects join distributed, "
                          "never collected",
            }
        elif where is not None and new_pred != _render(where, quals):
            out["membership"] = {
                "plan": "literal_inline",
                "reason": f"subquery materialized to ≤{IN_SUBQUERY_CAP} "
                          "literals (feeds IN-list file skipping)",
            }
        _scan_effect(vt, prune)

    def _dml(name: str) -> "VersionedTable":
        vt = _dml_target(spark, dk, name, versioned_views)
        out["table"], out["pinned"] = name, False
        return vt

    dk = classify_dml(inner)
    if dk == "update":
        u = _parse_update(inner)
        vt = _dml(u.table)
        out["class"] = "update"
        out["native_op"] = "update_where"
        _where_effect(vt, u.where, u.table)
        out["set_columns"] = sorted(u.assignments)
        return out
    if dk == "delete":
        d = _parse_delete(inner)
        vt = _dml(d.table)
        out["class"] = "delete"
        out["native_op"] = "delete_where"
        _where_effect(vt, d.where, d.table)
        return out
    if dk == "insert":
        ins = _parse_insert(inner)
        _dml(ins.table)
        out["class"] = "insert"
        out["native_op"] = "overwrite" if ins.overwrite else "append"
        out["source"] = "values" if ins.inline else "query"
        return out
    if dk == "merge":
        mg = _parse_merge(inner)
        vt = _dml(mg.target)
        out["class"] = "merge"
        out["native_op"] = "merge"
        key_cols = vt.key_cols()
        pairs, residual = _on_keys(
            mg.on, mg.target_alias, mg.source_alias, key_cols
        )
        out["on_keys"] = dict(pairs)
        out["residual_on"] = (
            " AND ".join(f"({c})" for c in residual) if residual else None
        )
        out["clauses"] = {
            "matched": len(mg.matched),
            "not_matched": len(mg.not_matched),
            "not_matched_by_source": len(mg.by_source),
        }
        out["skipping"] = (
            "source key-bounds range prune (per-column conjunction)"
        )
        return out
    u = _parse_utility(inner)
    if u is not None:
        sh = u.shape
        if sh.op is None:
            raise SqlDmlError(sh.error)
        out["class"] = "refresh_materialized_view" if u.kind == "refresh" else u.kind
        if u.kind in _NO_TABLE:
            return out  # the statement names no existing table
        vt = _utility_target(spark, u.kind, sh.target, versioned_views,
                             mutating=_mutating(sh))
        out["table"] = sh.target
        out["pinned"] = bool(versioned_views[sh.target.lower()]["pinned"])
        if sh.op == "erase":
            out["native_op"] = "erase"
            _where_effect(vt, _parse(sh.args["where"].strip(), expression=True),
                          sh.target)
        elif sh.op == "optimize":
            op, kw = _optimize_plan(vt, sh.args)
            out["native_op"] = op
            if op == "optimize_zorder":
                _scan_effect(vt, kw.get("where") or {})
                if "where" in kw:
                    out["scoped"] = True
            elif op == "optimize_cluster":
                out["clustering_cols"] = list(vt.clustering_cols())
                if kw["merge_runs"] is not None:
                    out["merge_runs"] = kw["merge_runs"]
        elif sh.op == "refresh_materialized_view":
            from database_anonymiser_spark.sources.materialized import (
                _LOSS_KINDS,
                materialized_info,
                refresh_target,
            )

            # the interval refresh_materialized would run, or its refusal
            try:
                info = materialized_info(vt)
                head = VersionedTable(spark, info["source"]).latest_version()
                v = sh.args["v"]
                to = refresh_target(info["last_version"], head,
                                    int(v) if v else None)
            except ValueError as e:
                raise SqlDmlError(str(e)) from e
            out["native_op"] = "ivm_delta_merge"
            out["source"] = info["source"]
            out["watermark"] = info["last_version"]
            out["source_head"] = head
            out["to_version"] = to
            out["would_noop"] = to <= info["last_version"]
            out["loss_aggs"] = sorted(
                c for c, (k, e) in info["aggs"].items() if k in _LOSS_KINDS
            )
        return out
    scan = _select_scan(inner)
    if scan is not None:
        name, quals, where = scan
        vt = _vt(name)
        out["class"] = "select"
        out["native_op"] = "pushdown_scan"
        _scan_effect(vt, _prune(
            where.conjuncts, quals, point_types=_point_types(vt._log_schema())
        ) if where is not None else {})
        return out
    raise SqlDmlError(
        "EXPLAIN supports the engine's own statement shapes "
        "(UPDATE/DELETE/INSERT/MERGE/ERASE/OPTIMIZE and single-table "
        "SELECT on a versioned view); other statements take Spark's "
        "own EXPLAIN"
    )


def execute_utility(
    spark, stmt: str, versioned_views: dict[str, dict],
    dryrun: bool = False,
) -> dict:
    """Run one maintenance statement against its ``--versionedTable``
    target: OPTIMIZE → incremental clustering (or bin-pack compaction
    when no clustering key is declared) / OPTIMIZE ZORDER BY → full
    z-order rewrite; VACUUM → orphan or retention reclaim; RESTORE →
    forward rollback commit; DESCRIBE HISTORY/DETAIL → the log's own
    metadata as rows; ALTER TABLE → a metadata-only commit (the DDL
    family). Mutating statements require an UN-pinned view; DESCRIBE
    works on pinned registrations too (it reads the log, not a
    snapshot)."""
    u = _parse_utility(stmt)
    if u is None:
        raise SqlDmlError(f"not a maintenance statement\n{_UTILITY_GRAMMAR}")
    sh, a = u.shape, u.shape.args
    if sh.op is None:
        raise SqlDmlError(sh.error)
    name = sh.target
    if sh.op == "explain":
        return _execute_explain(spark, a["inner"], stmt, versioned_views)
    if u.kind == "create":
        return _execute_create(spark, sh, stmt, versioned_views)
    if sh.op == "convert":
        from database_anonymiser_spark.sources.versioned import VersionedTable

        kcols = _column_list(a["key"])
        if len(kcols) != 1:
            raise SqlDmlError(
                "CONVERT takes exactly one KEY column (the footer-stats "
                "adoption harvests single-column bounds)"
            )
        try:
            t = VersionedTable.convert(spark, a["path"], key_col=kcols[0])
        except OSError as e:
            raise SqlDmlError(f"CONVERT refused: {e}") from e
        frag = {
            "mode": "sql_utility", "op": "convert",
            "root": a["path"],
            "new_version": int(t.latest_version()),
            "files_adopted": int(t.detail()["num_files"]),
            "statement": stmt,
        }
        if a["name"]:
            view = _unquote(a["name"])
            _register_versioned_view(spark, view, a["path"], versioned_views)
            frag["table"] = view
        return frag
    if sh.op == "drop_table":
        meta = versioned_views.get(name.lower())
        if meta is None:
            raise SqlDmlError(
                f"DROP target {name!r} is not a versioned view "
                "(--versionedTable registers one)"
            )
        # Delta's EXTERNAL-table DROP semantics: deregister only — the
        # commit log and data stay on disk (every table here lives at a
        # user-supplied LOCATION, exactly the class Delta never deletes
        # on DROP); re-register with --versionedTable or CONVERT is the
        # undo, VACUUM/filesystem removal is the explicit data-deletion
        # path. A DROP that silently deleted 100 TB would be a landmine.
        del versioned_views[name.lower()]
        spark.catalog.dropTempView(name)
        return {"mode": "sql_utility", "op": "drop_table", "table": name,
                "root": meta["root"], "data_retained": True,
                "statement": stmt}
    t = _utility_target(spark, u.kind, name, versioned_views,
                        mutating=_mutating(sh))
    if sh.op == "optimize":
        op, kw = _optimize_plan(t, a)
        frag = {"mode": "sql_utility", "op": op, "table": name,
                "new_version": int(getattr(t, op)(**kw))}
        if "where" in kw:
            frag["scope"] = {c: list(b) if isinstance(b, tuple) else b
                             for c, b in kw["where"].items()}
        return {**frag, "statement": stmt}
    if sh.op == "vacuum":
        dry = a["dry"] is not None
        if a["unit"] and a["unit"].upper() == "VERSIONS":
            reclaimed = t.vacuum(retain_versions=int(float(a["n"])), dry_run=dry)
        elif a["unit"]:
            reclaimed = t.vacuum(retain_hours=float(a["n"]), dry_run=dry)
        else:
            reclaimed = t.vacuum(dry_run=dry)
        frag = {"mode": "sql_utility", "op": "vacuum", "table": name,
                "files_reclaimed": len(reclaimed), "statement": stmt}
        if dry:
            # Delta's VACUUM ... DRY RUN: the candidate list IS the
            # result — nothing was unlinked ("reclaimed" would lie)
            frag["op"] = "vacuum_dry_run"
            frag["files_would_reclaim"] = frag.pop("files_reclaimed")
            frag["candidates"] = sorted(reclaimed)[:100]
        return frag
    if sh.op == "restore":
        v = (
            t.restore(int(a["v"])) if a["v"] is not None
            else t.restore_to_timestamp(a["ts"])
        )
        return {"mode": "sql_utility", "op": "restore", "table": name,
                "new_version": int(v), "statement": stmt}
    if sh.op == "describe":
        if a["what"].upper() == "HISTORY":
            rows = [
                {"version": h["version"], "op": h["op"], "ts": h.get("ts"),
                 "adds": len(h.get("adds", [])),
                 "removes": len(h.get("removes", [])),
                 # Delta's operationMetrics column
                 "metrics": (h.get("meta") or {}).get("metrics", {})}
                for h in t.history()
            ]
        else:
            rows = [t.detail()]
        return {"mode": "sql_utility", "op": f"describe_{a['what'].lower()}",
                "table": name, "rows": rows, "statement": stmt}
    if sh.op == "analyze":
        # ANALYZE TABLE (round 15 — Delta's dataSkippingStatsColumns
        # reconfiguration + stats recompute as SQL): footer-only [min,
        # max] harvest for new skipping columns and/or per-file BLOOM
        # sidecars, routed to the r9 native — metadata commit, zero
        # rewrite; tuple blooms (co-occurrence sidecars) stay native
        # (analyze(bloom_cols=[(a, b)])), the SQL face takes single
        # columns
        try:
            v = t.analyze(stats_cols=a["stats"], bloom_cols=a["bloom"])
        except ValueError as e:
            raise SqlDmlError(f"ANALYZE refused: {e}") from e
        return {"mode": "sql_utility", "op": "analyze", "table": name,
                "new_version": int(v), "stats_cols": list(a["stats"]),
                "bloom_cols": list(a["bloom"]), "statement": stmt}
    if sh.op == "truncate":
        if dryrun:
            # transactional since round 15, so previewable like DML —
            # the would-dereference count is the log's footer total
            # (metadata only, no data read)
            return {"mode": "sql_dml_dryrun", "op": "truncate",
                    "table": name, "rows_would_change": int(t.row_count()),
                    "statement": stmt}
        v = t.truncate()
        return {"mode": "sql_utility", "op": "truncate", "table": name,
                "new_version": int(v),
                "metrics": (t.commit_meta(v) or {}).get("metrics", {}),
                "statement": stmt}
    if sh.op == "show_tblproperties":
        # round 15 — Delta's SHOW TBLPROPERTIES: the versioned property
        # map as (key, value) rows, engine-managed slots (ivm.*,
        # identity.*, clustering.*, generated.*) included; readable on
        # pinned registrations (log metadata, no snapshot)
        props = t.table_properties()
        return {"mode": "sql_utility", "op": "show_tblproperties",
                "table": name,
                "rows": [{"key": k, "value": v}
                         for k, v in sorted(props.items())
                         if a["key"] in (None, k)],
                "statement": stmt}
    if sh.op == "show_create_table":
        ddl = show_create_table(t, name, versioned_views)
        return {"mode": "sql_utility", "op": "show_create_table",
                "table": name, "rows": [{"createtab_stmt": ddl}],
                "statement": stmt}
    if sh.op == "refresh_materialized_view":
        from database_anonymiser_spark.sources.materialized import (
            refresh_materialized,
        )

        try:
            r = refresh_materialized(
                spark, t.root, to_version=int(a["v"]) if a["v"] else None,
            )
        except ValueError as e:
            raise SqlDmlError(str(e)) from e
        return {"mode": "sql_utility", "op": "refresh_materialized_view",
                "table": name, "new_version": int(t.latest_version()), **r,
                "statement": stmt}
    if sh.op == "copy_into":
        from pathlib import Path as _P

        src = a["path"]
        p = _P(src)
        if p.is_dir():
            # regular files only: a Spark output DIRECTORY named
            # x.parquet would otherwise match alongside its part files
            # and double-load every row
            files = sorted(
                str(f) for f in p.rglob("*.parquet") if f.is_file()
            )
        elif p.is_file():
            files = [str(p)]
        else:
            raise SqlDmlError(f"COPY INTO source not found: {src!r}")
        if not files:
            raise SqlDmlError(f"no parquet files under {src!r}")
        # Delta's COPY INTO idempotency: files already loaded FROM THIS
        # SOURCE are skipped on re-run (retry-safe ingest) — the load
        # history is the commit log itself (copy_files witness on each
        # append), so there is no side state to lose. O(commits) tiny
        # JSON reads, same class as every other log walk.
        loaded: set = set()
        for h in t.history():
            hm = h.get("meta") or {}
            if h.get("op") == "append" and hm.get("copy_source") == src:
                loaded.update(hm.get("copy_files") or ())
        new = [f for f in files if f not in loaded]
        if not new:
            return {
                "mode": "sql_utility", "op": "copy_into", "table": name,
                "files_loaded": 0, "files_skipped": len(files),
                "new_version": int(t.latest_version()), "statement": stmt,
            }
        v = t.append(
            spark.read.parquet(*new),
            meta={"copy_source": src, "copy_files": new},
        )
        return {
            "mode": "sql_utility", "op": "copy_into", "table": name,
            "files_loaded": len(new), "files_skipped": len(files) - len(new),
            "new_version": int(v), "statement": stmt,
        }
    if sh.op == "erase":
        pred, membership, prune = _resolve_where(
            spark, _parse(a["where"].strip(), expression=True),
            {name.lower(): ""}, _point_types(t._log_schema()),
        )
        if dryrun:
            # the one dryrun-able maintenance statement (round 15): a
            # GDPR erasure script MUST be previewable before it runs —
            # erase is deliberately not rollbackable, so the row count
            # preview is the only safe rehearsal. Same count path as
            # the DML dryruns (exact membership semantics included).
            from pyspark.sql import functions as F

            would = t.snapshot().where(F.expr(pred or "true"))
            if membership is not None:
                would = _membership_filter(t, would, membership)
            return {"mode": "sql_dml_dryrun", "op": "erase", "table": name,
                    "rows_would_change": int(would.count()),
                    "statement": stmt}
        result = t.erase(pred or "true", prune=prune or None,
                         membership=membership)
        return {"mode": "sql_utility", "op": "erase", "table": name,
                **result, "statement": stmt}
    # ALTER — the DDL family (round 14): every sub-shape is a
    # metadata-only commit on an existing native (zero data reads or
    # rewrites; the docstrings on add_columns/rename_column/drop_column/
    # widen_column pin the 100 TB contracts — NULL-fill at scan,
    # column-mapping physical names, lossless widening matrix)
    frag = {"mode": "sql_utility", "op": sh.op, "table": name}
    if sh.op == "add_column":
        v = t.add_columns(a["columns"])
        (col, dtype), *more = a["columns"]
        if more:
            frag["columns"] = {c: d.simpleString() for c, d in a["columns"]}
        else:
            frag.update(column=col, type=dtype.simpleString())
    elif sh.op == "rename_column":
        v = t.rename_column(a["from"], a["to"])
        frag.update({"from": a["from"], "to": a["to"]})
    elif sh.op == "drop_column":
        v = t.drop_column(a["column"])
        frag["column"] = a["column"]
    elif sh.op == "widen_column":
        v = t.widen_column(a["column"], a["type"])
        frag.update(column=a["column"], type=a["type"].simpleString())
    elif sh.op == "add_constraint":
        v = t.add_constraint(a["name"], a["predicate"])
        frag["constraint"] = a["name"]
    elif sh.op == "drop_constraint":
        v = t.drop_constraint(a["name"])
        frag["constraint"] = a["name"]
    elif sh.op == "set_properties":
        v = t.set_properties(a["properties"])
        frag["properties"] = a["properties"]
    elif sh.op == "unset_properties":
        v = t.unset_properties(a["keys"])
        frag["keys"] = a["keys"]
    else:  # set_clustering
        v = t.set_clustering(a["cols"])
    return {**frag, "new_version": int(v), "statement": stmt}


def _strip_line_comments(s: str) -> str:
    """Remove ``-- ...`` line comments (outside string literals) — an
    emitted/reviewed script carries them; the statement parsers don't.

    Round-14 fix: this must be ONE linear scan tracking its own string
    state, not a pass over :func:`_mask` — the mask knows nothing about
    comments, so an odd number of quotes INSIDE a comment (``-- the
    user's note``) poisoned its string state and every later comment
    survived stripping, mis-splitting the rest of the script. Here a
    comment's characters never touch the quote state."""
    out: list[str] = []
    i, n = 0, len(s)
    quote: str | None = None
    while i < n:
        c = s[i]
        if quote is not None:
            out.append(c)
            if c == quote:
                quote = None  # '' escapes read as close+reopen: harmless
            i += 1
            continue
        if c in "'\"`":
            quote = c
            out.append(c)
            i += 1
            continue
        if c == "-" and i + 1 < n and s[i + 1] == "-":
            j = s.find("\n", i)
            i = n if j < 0 else j  # the newline survives
            continue
        out.append(c)
        i += 1
    return "".join(out)


def split_statements(script: str) -> list[str]:
    """Split a SQL script on top-level semicolons (quote- and
    comment-aware) — the reference's execution unit is a SCRIPT of
    per-table UPDATE statements (``executor.ts:104-132`` loops tables
    inside one run), so --sqlFile accepts the same shape, including
    ``--`` comment lines."""
    return [
        s.strip()
        for s in _split_top(_strip_line_comments(script), ";")
        if s.strip()
    ]


def _dml_target(spark, kind: str, name: str, versioned_views: dict):
    """The versioned table a DML statement writes, after the refusals
    every DML statement makes — execution and EXPLAIN alike."""
    from database_anonymiser_spark.sources.versioned import VersionedTable

    meta = versioned_views.get(name.lower())
    if meta is None:
        raise SqlDmlError(
            f"{kind.upper()} target {name!r} is not a versioned view — "
            "DML runs only against --versionedTable tables (plain "
            "--data parquet views are immutable; the commit log is "
            "what makes DML atomic, CDF-visible and time-travelable)"
        )
    if meta["pinned"]:
        raise SqlDmlError(
            f"{kind.upper()} target {name!r} is pinned to a historical "
            "version/timestamp; DML against a time-travel read is "
            "refused (register the view without @PIN to write at the "
            "head)"
        )
    t = VersionedTable(spark, meta["root"])
    # round 14: a MATERIALIZED VIEW's contents are derived state —
    # direct DML would silently diverge it from its definition and
    # the recorded source watermark would mask the divergence on the
    # next refresh (DBSQL refuses the same)
    props = t._raw_properties() or {}
    if "ivm.source" in props:
        raise SqlDmlError(
            f"{kind.upper()} target {name!r} is a MATERIALIZED VIEW "
            f"— its contents are derived from {props['ivm.source']!r}; "
            "write to the source and REFRESH MATERIALIZED VIEW instead"
        )
    return t


def execute_dml(
    spark, stmt: str, versioned_views: dict[str, dict], dryrun: bool = False
) -> dict:
    """Run one DML statement against its ``--versionedTable`` target and
    return the report fragment.  ``versioned_views`` maps LOWERCASED view
    name → ``{"root": str, "pinned": bool}`` (pinned = registered with a
    version/timestamp pin → DML refused).  Raises :class:`SqlDmlError`
    for anything out of contract; the caller classifies first with
    :func:`classify_dml`.

    ``dryrun=True`` is the reference's BEGIN … ROLLBACK transaction
    (``executor.ts:98-136``) rendered on an immutable log: the statement
    is fully parsed and validated (target class, pin, MERGE key check,
    column existence via the same native-op preconditions) and the rows
    it WOULD touch are counted — but nothing commits and the table's
    version does not move."""
    from pyspark.sql import functions as F

    from database_anonymiser_spark.sources.versioned import (
        VersionedTable, _conform, _conform_exprs, _merge_keys,
    )

    kind = classify_dml(stmt)
    if kind is None:  # defensive; the caller classified already
        raise SqlDmlError("not a DML statement")

    if kind == "update":
        u = _parse_update(stmt)
        table_name = u.table
        vt = _dml_target(spark, kind, u.table, versioned_views)
        # [NOT] IN (SELECT ...) → literal list below the cap (also
        # unlocks the IN-list skipping); above it, a conjunct-level term
        # becomes a distributed semi-join spec
        pred, membership, prune = _resolve_where(
            spark, u.where, {u.table.lower(): ""}, _point_types(vt._log_schema())
        )
        if dryrun:
            would = vt.snapshot().where(F.expr(pred or "true"))
            if membership is not None:
                would = _membership_filter(vt, would, membership)
            n = would.count()
            # the assignment columns go through the same existence check
            # the real op would apply (a typo'd column must fail the
            # dry run too, not just the apply)
            sch = vt.snapshot().schema
            unknown = sorted(set(u.assignments) - {f.name for f in sch.fields})
            if unknown:
                raise SqlDmlError(
                    f"UPDATE assigns columns absent from {u.table!r}: {unknown}"
                )
            # and through the store-assignment rule the real op applies
            assigns = {c: F.expr(e) for c, e in u.assignments.items()}
            _conform_exprs(vt.snapshot(), assigns, sch)
            return {
                "mode": "sql_dml_dryrun", "op": kind, "table": u.table,
                "rows_would_change": int(n), "statement": stmt,
            }
        new_v = vt.update_where(
            u.assignments,
            pred or "true",
            # file-skipping hints implied by the WHERE (Delta compiles
            # data skipping from the predicate; here the statement front
            # does): a scoped SQL UPDATE reads O(matching files)
            prune=prune or None,
            membership=membership,
        )
    elif kind == "delete":
        d = _parse_delete(stmt)
        table_name = d.table
        vt = _dml_target(spark, kind, d.table, versioned_views)
        pred, membership, prune = _resolve_where(
            spark, d.where, {d.table.lower(): ""}, _point_types(vt._log_schema())
        )
        if dryrun:
            would = vt.snapshot().where(F.expr(pred or "true"))
            if membership is not None:
                would = _membership_filter(vt, would, membership)
            n = would.count()
            return {
                "mode": "sql_dml_dryrun", "op": kind, "table": d.table,
                "rows_would_change": int(n), "statement": stmt,
            }
        new_v = vt.delete_where(
            pred or "true",
            prune=prune or None,
            membership=membership,
        )
    elif kind == "insert":
        ins = _parse_insert(stmt)
        table_name = ins.table
        vt = _dml_target(spark, kind, ins.table, versioned_views)
        sch = vt._log_schema() or vt.snapshot().schema
        ident = vt.identity_column()
        gen_cols = set(vt.generated_columns() or ())
        target_cols = ins.columns or [f.name for f in sch.fields]
        unknown = sorted(set(target_cols) - {f.name for f in sch.fields})
        if unknown:
            raise SqlDmlError(
                f"INSERT names columns absent from {ins.table!r}: {unknown}"
            )
        if ident is not None and ident[0] in target_cols:
            raise SqlDmlError(
                f"identity column {ident[0]!r} is GENERATED ALWAYS; use a "
                "column list that omits it (values are allocated)"
            )
        src = spark.sql(ins.query)
        if len(src.columns) != len(target_cols):
            raise SqlDmlError(
                f"INSERT arity mismatch: {len(target_cols)} target "
                f"column(s), source has {len(src.columns)}"
            )
        # positional mapping (SQL INSERT semantics); append conforms the
        # types by the store-assignment rule. Unnamed columns NULL-fill —
        # except identity (allocated by append) and generated columns
        # (recomputed by append)
        named = {t: F.col(c).alias(t) for c, t in zip(src.columns, target_cols)}
        for f in sch.fields:
            if f.name in named or f.name in gen_cols or (
                ident is not None and f.name == ident[0]
            ):
                continue
            named[f.name] = F.lit(None).alias(f.name)
        # schema field order — append's alignment is name-based but a
        # schema-ordered frame is what a reader of the report expects
        df = src.select(*[named[f.name] for f in sch.fields if f.name in named])
        if dryrun:
            _conform(df, sch)  # the store-assignment rule append applies
            return {
                "mode": "sql_dml_dryrun",
                "op": "insert_overwrite" if ins.overwrite else kind,
                "table": ins.table,
                "rows_would_change": int(df.count()), "statement": stmt,
            }
        if ins.overwrite:
            # INSERT OVERWRITE (round 14): atomically replace contents —
            # one commit adds the new files and removes every live one
            new_v = vt.overwrite(df)
            kind = "insert_overwrite"
        else:
            new_v = vt.append(df)
    else:
        mg = _parse_merge(stmt)
        table_name = mg.target
        vt = _dml_target(spark, kind, mg.target, versioned_views)
        key_cols = vt.key_cols()
        if not key_cols:
            raise SqlDmlError(
                f"MERGE target {mg.target!r} has no declared key; the "
                "native merge joins on the table key"
            )
        pairs, residual = _on_keys(
            mg.on, mg.target_alias, mg.source_alias, key_cols
        )
        src = (
            spark.sql(mg.source_sql)
            if mg.source_is_query
            else spark.table(mg.source_sql)
        )
        res_sql = " AND ".join(f"({c})" for c in residual) if residual else None
        clauses = list(mg.matched)  # the record is shared: never edit it
        if res_sql:
            # Delta's residual-ON semantics over the key-joined native
            # merge: matched clauses require the residual; a key-matched
            # pair FAILING it is "not matched by source" under full-ON
            # semantics (target keys are unique — no other source row can
            # match), so the BY SOURCE clauses apply there, gated on NOT
            # residual. WHEN NOT MATCHED inserts stay key-equality-keyed
            # (module docstring: the key-uniqueness deviation).
            clauses = [
                (cl[0],
                 res_sql if cl[1] is None else f"({res_sql}) AND ({cl[1]})",
                 *cl[2:])
                for cl in clauses
            ]
            not_res = f"NOT coalesce({res_sql}, false)"
            clauses.extend(
                (cl[0],
                 not_res if cl[1] is None else f"({not_res}) AND ({cl[1]})",
                 *cl[2:])
                for cl in mg.by_source
            )
            # with neither matched nor by-source clauses the residual has
            # no observable effect (inserts are key-equality-keyed) — the
            # empty matched list already keeps every matched pair
        # the native merge expects the source to carry the TARGET's key
        # column names; rename the ON-mapped source columns over
        for tcol, scol in pairs.items():
            if scol != tcol:
                if tcol in src.columns:
                    raise SqlDmlError(
                        f"cannot rename source key {scol!r} to {tcol!r}: "
                        f"the source already has a {tcol!r} column"
                    )
                src = src.withColumnRenamed(scol, tcol)
        if dryrun:
            key_list = list(key_cols)
            # the real merge's key rule: a key cast it refuses, or one
            # that changes a source key's value, refuses the dry run too
            sch = vt._log_schema() or vt.snapshot().schema
            n_changed = _merge_keys(src, sch, key_list)[1]
            if n_changed is not None and src.agg(n_changed).first()[0]:
                raise SqlDmlError("store assignment would change a source "
                                  "key value; the merge refuses such a cast")
            if res_sql:
                # full-ON matched count: key equality AND the residual
                t = vt.snapshot().alias("t")
                s = src.alias("s")
                cond = F.expr(
                    " AND ".join(f"t.{k} = s.{k}" for k in key_list)
                    + f" AND ({res_sql})"
                )
                matched = t.join(s, cond, "inner").count()
            else:
                snap = vt.snapshot().select(*key_list)
                matched = snap.join(
                    src.select(*key_list), key_list, "inner"
                ).count()
            # insert candidates are key-unmatched source rows (module
            # docstring: inserts stay keyed on the key equality)
            unmatched = (
                src.select(*key_list)
                .join(vt.snapshot().select(*key_list), key_list, "left_anti")
                .count()
            )
            return {
                "mode": "sql_dml_dryrun", "op": kind, "table": mg.target,
                "matched_rows": int(matched),
                "unmatched_source_rows": int(unmatched),
                "statement": stmt,
            }
        new_v = vt.merge(
            src,
            matched=clauses,
            not_matched=list(mg.not_matched),
            not_matched_by_source=list(mg.by_source) or None,
        )
    # the one new commit record only (never the whole history — the log
    # can be long; this is the report's operationMetrics slot)
    import json as _json

    from database_anonymiser_spark.sources.versioned import _log_path

    rec = _json.loads(_log_path(vt.root, new_v).read_text())
    return {
        "mode": "sql_dml",
        "op": kind,
        "table": table_name,
        "root": versioned_views[table_name.lower()]["root"],
        "new_version": int(new_v),
        "metrics": (rec.get("meta") or {}).get("metrics", {}),
        "statement": stmt,
    }
