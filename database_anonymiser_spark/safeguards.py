"""Row-cap safeguard — implemented for real.

The reference ships this as dead code (``src/executor/safeguards.ts:1-12``:
exported ``enforceRowCap``, zero call sites). The intended semantics — refuse
to touch more than ``cap`` rows unless ``force`` — are clearly useful for an
anonymiser, so our executor actually calls it before apply (SURVEY.md §0).
:func:`bounded_collect` is the same cap as a driver-memory guard.
"""

from __future__ import annotations

DEFAULT_ROW_CAP = 10_000_000


class RowCapExceeded(RuntimeError):
    pass


def enforce_row_cap(total_rows: int, cap: int = DEFAULT_ROW_CAP, force: bool = False) -> None:
    """≅ enforceRowCap (safeguards.ts:1-12), but with a live call site."""
    if force:
        return
    if total_rows > cap:
        raise RowCapExceeded(
            f"plan touches {total_rows} rows > cap {cap}; re-run with force=True/--force"
        )


def bounded_collect(df, cap: int) -> list | None:
    """The rows of ``df`` when it has at most ``cap`` of them, else None.

    The one test of every driver-local fast path ("run it on the driver
    when the input fits, else go distributed"): ONE ``limit(cap + 1)``
    collect answers it, so the driver never holds more than cap + 1
    rows, and an input that fits is not executed a second time."""
    rows = df.limit(cap + 1).collect()
    return rows if len(rows) <= cap else None
