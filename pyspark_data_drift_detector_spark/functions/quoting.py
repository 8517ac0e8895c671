"""Identifier/literal quoting for SQL-string plan assembly.

The operator modules assemble expressions as SQL text (see the
``operators.profile`` module docstring — py4j round-trips made Column-API
construction the dominant driver cost). Interpolating a raw column name
into that text is only safe when the name cannot terminate the quoting
context; a name containing a backtick or single quote (legal in Spark
schemas) would otherwise misparse the plan.

Two layers of defense:

* ``qi`` / ``qs`` produce correctly escaped identifier / string-literal
  text for builders that choose to support arbitrary names.
* ``ensure_safe_columns`` rejects hostile names up front with a clear
  error. The pipeline entry (``detect_drift``) and the shared melt/profile
  builders call it, so every SQL-string path behind them may interpolate
  the already-vetted names directly — the historical behavior, now made
  explicit instead of assumed.
"""

from __future__ import annotations

from collections.abc import Iterable

#: Characters that can terminate a quoting context in assembled SQL text
#: (backtick ends an identifier, quotes end string literals, backslash
#: starts an escape) plus control characters.
_UNSAFE = set("`'\"\\")


def qi(name: str) -> str:
    """``name`` as a safely backtick-quoted SQL identifier."""
    return f"`{name.replace('`', '``')}`"


def qs(value: str) -> str:
    """``value`` as a safely quoted SQL string literal."""
    escaped = value.replace("\\", "\\\\").replace("'", "\\'")
    return f"'{escaped}'"


def is_safe_column(name: str) -> bool:
    return not any(ch in _UNSAFE or ord(ch) < 0x20 for ch in name)


def ensure_safe_columns(names: Iterable[str], where: str = "column names") -> None:
    """Raise ``ValueError`` naming every column whose name could escape a
    quoting context in assembled SQL text."""
    bad = [n for n in names if not is_safe_column(n)]
    if bad:
        raise ValueError(
            f"unsupported {where}: {bad!r} — names containing quotes, "
            "backticks, backslashes, or control characters cannot be used "
            "with SQL-string plan assembly; rename the columns first"
        )
