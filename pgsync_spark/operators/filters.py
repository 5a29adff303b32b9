"""Root-filter construction: pgsync's filter spec → Spark SQL / DuckDB SQL.

Reference semantics (ref: pgsync/querybuilder.py:100-132, the filter builder):
``filters = {table: [ {col: val, ...}, {col: val, ...} ]}`` — each dict
is an AND over its items (supports composite keys), the list is an OR
across dicts. Filters apply only at the root node; child-level filters
fold into join onclauses (ref: pgsync/querybuilder.py:469-471) — in the
Spark plan that placement falls out of Catalyst predicate pushdown.

At 100 TB the preferred form for LARGE key sets is a semi-join against a
keys DataFrame (see streaming/incremental.py) — an `OR` of thousands of
literals doesn't prune parquet row-groups and bloats the plan; a
broadcast semi-join does. `filters_to_spark_sql` is the literal
small-set form.
"""

from __future__ import annotations

import re


_STRINGY = ("string", "varchar", "char", "uuid")


def _bt(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def _spark_sql_str(s: str) -> str:
    """A Spark SQL string expression reading as ``s`` under both
    spark.sql.parser.escapedStringLiterals settings. Inside a literal a
    backslash or quote reads differently under each ('it''s' reads as
    it''s with the setting on), so those characters become chr()
    pieces of a constant-folded concat; other text stays one plain
    literal."""
    if "\\" not in s and "'" not in s:
        return "'" + s + "'"
    pieces = [
        f"chr({ord(p)})" if p in ("\\", "'") else f"'{p}'"
        for p in re.split(r"([\\'])", s)
        if p
    ]
    return "concat(" + ", ".join(pieces) + ")"


class UnrenderableLiteral(ValueError):
    """A filter value with no exact Spark SQL literal form (an int
    outside bigint range — the L-suffixed rendering would not parse)."""


def _spark_sql_lit(v) -> str:
    """Render a Python value as a typed Spark SQL literal (int32-range
    ints → INT, larger → BIGINT via L suffix, floats → DOUBLE via D
    suffix; non-finite doubles via a constant-folded CAST — 'infD'/'nanD'
    are parse errors). Raises UnrenderableLiteral for out-of-bigint
    ints."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, int):
        if -(2**31) <= v < 2**31:
            return str(v)
        if -(2**63) <= v < 2**63:
            return f"{v}L"
        raise UnrenderableLiteral(
            f"int {v} is outside bigint range — no Spark SQL literal form"
        )
    if isinstance(v, float):
        if v != v:
            return "CAST('NaN' AS DOUBLE)"
        if v == float("inf"):
            return "CAST('Infinity' AS DOUBLE)"
        if v == float("-inf"):
            return "CAST('-Infinity' AS DOUBLE)"
        return f"{v!r}D"
    return _spark_sql_str(str(v))


def _typed_eq_spark_sql(col: str, v, dtypes: dict[str, str] | None) -> str:
    """Null-safe equality with the reference's mixed-type guard
    (ref: pgsync/querybuilder.py:81-98): comparing a uuid/text column
    against a number can never match, so it collapses to literal FALSE
    instead of comparing. Without the guard, Spark's ANSI-mode implicit
    cast (string → bigint) RAISES on non-numeric values at runtime —
    a filter must reject rows, not crash the job. Plan-time FALSE also
    keeps comparable predicates pushdown-eligible (no try_cast wrapper
    on the column)."""
    if dtypes is None or col not in dtypes:
        return f"({_bt(col)} <=> {_spark_sql_lit(v)})"
    dt = dtypes[col]
    stringy = any(dt.startswith(s) for s in _STRINGY)
    if isinstance(v, bool) and dt != "boolean":
        # Spark refuses boolean<=>numeric outright (AnalysisException,
        # found by the filter fuzz) — same guard, plan-time FALSE
        return "FALSE"
    if dt == "boolean" and not isinstance(v, (bool, str, type(None))):
        return "FALSE"
    if not isinstance(v, (str, type(None))) and stringy:
        return "FALSE"
    if isinstance(v, str) and not stringy:
        # reverse direction of the same guard: a numeric/temporal column
        # vs a string literal. The literal try_casts to the COLUMN's
        # type (constant-folded at plan time): parseable → an ordinary
        # typed equality (still pushdown-eligible — CDC images arrive
        # stringly, '7' must match 7); unparseable → the IS NOT NULL
        # term folds to FALSE. Never <=> against a silently-nulled cast
        # (that would MATCH null-keyed rows), never an ANSI cast crash.
        typed = f"try_cast({_spark_sql_str(v)} AS {dt})"
        return f"(({_bt(col)} <=> {typed}) AND ({typed} IS NOT NULL))"
    return f"({_bt(col)} <=> {_spark_sql_lit(v)})"


def filters_to_spark_sql(
    clauses: list[dict], dtypes: dict[str, str] | None = None
) -> str:
    """[{a: 1, b: 2}, {a: 3}] → ``(a <=> 1) AND (b <=> 2) OR (a <=> 3)``
    as ONE Spark SQL predicate (AND binds tighter than OR).

    ``dtypes``: the target frame's ``dict(df.dtypes)``; enables the
    mixed-type guard (see ``_typed_eq_spark_sql``)."""
    if not clauses:
        return "TRUE"
    ors = []
    for clause in clauses:
        ands = [_typed_eq_spark_sql(k, v, dtypes) for k, v in clause.items()]
        ors.append(" AND ".join(ands))
    return " OR ".join(ors)


def _sql_lit(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, (int, float)):
        return repr(v)
    return "'" + str(v).replace("'", "''") + "'"


def filters_to_sql(clauses: list[dict]) -> str:
    """Same spec rendered as a SQL predicate (for the DuckDB oracle)."""
    if not clauses:
        return "TRUE"
    ors = []
    for clause in clauses:
        ands = [
            f'"{k}" IS NOT DISTINCT FROM {_sql_lit(v)}' for k, v in clause.items()
        ]
        ors.append("(" + " AND ".join(ands) + ")")
    return " OR ".join(ors)
