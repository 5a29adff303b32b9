"""Document assembly: ``_id``, ``_meta`` lineage squash, canonical JSON.

- ``_id`` = root PK values joined with "|" (ref: pgsync/sync.py:527-535,
  1556-1579).
- ``_meta`` = {table: {pk_col: [sorted distinct values]}} — the squash of
  the bubbled-up ``_keys`` lineage (ref: pgsync/transform.py:230-288);
  entries with no rows render as null (the reference omits them; a static
  struct schema cannot omit per-row, and null is equivalent for the
  reverse-lookup use).
- ``doc`` = compact JSON of struct(_meta, *fields) with explicit nulls
  (the reference's documents include null columns,
  ref: tests/test_sync_root.py test_doc_includes_nulls).

The projection is SQL fragments over the compiled tree's columns
(plans/sqlgen.py), so JSON serialization happens JVM-side in codegen,
parsed once with the rest of the query.
"""

from __future__ import annotations


def _bt(name: str) -> str:
    """Backtick-quote an identifier for embedding in a SQL fragment."""
    return "`" + name.replace("`", "``") + "`"


def _meta_sql(compiled) -> str:
    """Static-schema ``_meta`` struct, sorted table → sorted pk fields
    (struct-of-structs of CASE WHEN size>0 THEN sorted-distinct arrays;
    an empty array — every child-of-child row missing — is null, the
    oracle's aggregate-over-empty-set). Composite-pk tuple keys
    ("pk1|pk2") are internal to the lineage index and never surface in
    ``_meta`` (reference parity)."""
    by_table: dict[str, list[tuple[str, str]]] = {}
    for (tbl, pk), colname in sorted(compiled.keys_cols.items()):
        if "|" in pk:
            continue
        by_table.setdefault(tbl, []).append((pk, colname))
    tables = []
    for tbl in sorted(by_table):
        pk_fields = []
        for pk, colname in by_table[tbl]:
            c = _bt(colname)
            pk_fields.append(
                f"CASE WHEN size({c}) > 0 THEN "
                f"array_sort(array_distinct({c})) ELSE NULL END "
                f"AS {_bt(pk)}"
            )
        tables.append("struct(" + ", ".join(pk_fields) + f") AS {_bt(tbl)}")
    return "struct(" + ", ".join(tables) + ") AS _meta"


def assemble_exprs(
    compiled,
    structured: bool = False,
    include_pks: bool = False,
    include_keys: bool = False,
) -> list[str]:
    """The assembly projection as SQL fragments over a compiled tree
    (``keys_cols``, ``field_names``, ``root_pks``, ``tree``):
    ``_id, doc[, _routing]``, where ``doc`` is ``to_json`` of
    ``struct(_meta, *fields)``. ``structured`` emits those same
    fragments as typed top-level columns instead —
    ``_id[, _routing], _meta, *fields``, the shape a search sink maps.
    ``_routing`` = the root row's value of ``Tree.routing`` (ref:
    pgsync/sync.py:1562-1563). ``include_pks``/``include_keys`` append
    the typed root PKs and the lineage key arrays (distinct,
    stringified) under their ``__k_*`` names."""
    parts = [_meta_sql(compiled)]
    parts.extend(
        f"{_bt('__f_' + n)} AS {_bt(n)}" for n in compiled.field_names
    )
    _id = (
        "concat_ws('|', "
        + ", ".join(f"cast({_bt(pk)} as string)" for pk in compiled.root_pks)
        + ") AS _id"
    )
    cols = [_id]
    if not structured:
        cols.append(
            "to_json(struct(" + ", ".join(parts) + "), "
            "map('ignoreNullFields', 'false')) AS doc"
        )
    routing = compiled.tree.routing
    if routing:
        if routing not in compiled.field_names:
            from .. import exc

            raise exc.ColumnNotFoundError(
                f"routing field {routing!r} is not a document field"
            )
        cols.append(f"cast({_bt('__f_' + routing)} as string) AS _routing")
    if structured:
        cols.extend(parts)
    if include_pks:
        cols.extend(_bt(pk) for pk in compiled.root_pks)
    if include_keys:
        for (_tbl, _pk), colname in sorted(compiled.keys_cols.items()):
            c = _bt(colname)
            cols.append(
                f"transform(array_distinct({c}), x -> cast(x as string)) "
                f"AS {c}"
            )
    return cols
