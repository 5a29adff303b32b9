"""DuckDB oracle SQL generator.

Walks the same Tree IR as the Spark compiler and emits ANSI/DuckDB SQL
(correlated scalar subqueries + json_object/json_group_array) that
produces byte-identical ``(_id, doc)`` strings. This is the correctness
gate: the driver runs the Spark plan and this SQL side-by-side and
hash-compares values (see __spark_entry__.py).

The generated SQL mirrors the reference's *correlated lateral* query
shape (ref: pgsync/querybuilder.py:474-476, 966-992) — DuckDB evaluates
it the classic way, while the Spark plan is the decorrelated
groupBy+join form; agreeing outputs demonstrate the decorrelation is
semantics-preserving.
"""

from __future__ import annotations

import itertools
from collections.abc import Callable

from ..catalog import TableMeta, find_fk, self_join_pairs
from ..node import (
    ONE_TO_MANY,
    SCALAR,
    ColumnSpec,
    Node,
    Tree,
)


def _q(ident: str) -> str:
    return '"' + ident.replace('"', '""') + '"'


class OracleCompiler:
    """Tree → DuckDB SQL. ``columns_of``/``column_type_of`` provide
    schema info (from a pyarrow read of any sf dir — schemas are
    identical across scale factors)."""

    def __init__(
        self,
        tables: dict[str, TableMeta],
        columns_of: Callable[[str], list[str]],
        column_type_of: Callable[[str, str], str],
        table_names: dict[str, str] | None = None,
    ):
        self.tables = tables
        self.columns_of = columns_of
        self.column_type_of = column_type_of  # returns 'timestamp'|'date'|other
        # physical-name remapping (e.g. mutated CTEs for incremental
        # oracles); document labels / _meta keys keep the logical name
        self.table_names = table_names or {}
        self._ids = itertools.count()

    def _t(self, table: str) -> str:
        return _q(self.table_names.get(table, table))

    # -- helpers -------------------------------------------------------
    def _pks(self, node: Node) -> list[str]:
        if node.primary_key:
            return list(node.primary_key)
        return list(self.tables[node.table].primary_key)

    def _specs(self, node: Node) -> list[ColumnSpec]:
        if node.columns:
            return node.columns
        from ..node import SYSTEM_COLUMNS

        return [
            ColumnSpec(name=c, label=c)
            for c in self.columns_of(node.table)
            if c not in SYSTEM_COLUMNS
        ]

    def _field_expr(self, node: Node, alias: str, s: ColumnSpec) -> str:
        if s.is_json_path:
            path = "$"
            for token in s.path:
                if token.lstrip("-").isdigit():
                    path += f"[{int(token)}]"
                else:
                    path += f".{token}"
            return f"json_extract_string({alias}.{_q(s.name)}, '{path}')"
        kind = self.column_type_of(node.table, s.name)
        col = f"{alias}.{_q(s.name)}"
        if kind == "timestamp":
            return f"strftime({col}, '%Y-%m-%d %H:%M:%S')"
        if kind == "date":
            return f"strftime({col}, '%Y-%m-%d')"
        return col

    def _fields_sql(self, node: Node, alias: str) -> list[tuple[str, str]]:
        """(label, sql_expr) pairs for this node incl. child sub-selects,
        with the node's transform block applied (replace→rename→concat,
        ref: pgsync/transform.py:211-216)."""
        fields: list[tuple[str, str]] = [
            (s.label, self._field_expr(node, alias, s)) for s in self._specs(node)
        ]
        for ch in node.children:
            fields.append((ch.name, self._child_sql(ch, node, alias)))
        return self._apply_transforms(node, fields)

    def _apply_transforms(
        self, node: Node, fields: list[tuple[str, str]]
    ) -> list[tuple[str, str]]:
        spec = node.transform or {}
        if not spec:
            return fields
        out = list(fields)
        replace = spec.get("replace") or {}
        if replace:
            out2 = []
            for lbl, e in out:
                if lbl in replace:
                    for old, new in replace[lbl].items():
                        o = old.replace("'", "''")
                        n = new.replace("'", "''")
                        e = f"replace(CAST({e} AS VARCHAR), '{o}', '{n}')"
                out2.append((lbl, e))
            out = out2
        rename = spec.get("rename") or {}
        if rename:
            out = [(rename.get(lbl, lbl), e) for lbl, e in out]
        concat = spec.get("concat") or {}
        if concat:
            specs = concat if isinstance(concat, list) else [concat]
            by_label = dict(out)
            for c in specs:
                parts = []
                for name in c.get("columns", []):
                    if name in by_label:
                        e = by_label[name]
                        # falsy-drop parity with sqlgen._drop_falsy_sql
                        parts.append(
                            f"(CASE WHEN {e} IS NULL OR CAST({e} AS VARCHAR) IN "
                            f"('', '0', '0.0', 'false') THEN NULL ELSE CAST({e} AS VARCHAR) END)"
                        )
                    else:
                        lit = str(name).replace("'", "''")
                        parts.append(f"'{lit}'")
                delim = c.get("delimiter", "").replace("'", "''")
                out.append((c.get("destination"), f"concat_ws('{delim}', {', '.join(parts)})"))
        return out

    @staticmethod
    def _json_object(fields: list[tuple[str, str]]) -> str:
        args = ", ".join(f"'{lbl}', {e}" for lbl, e in fields)
        return f"json_object({args})"

    # -- children ------------------------------------------------------
    def _join_pairs(self, node: Node, parent: Node) -> tuple[list, str]:
        """(column pairs, combinator). Self-joins OR-combine the
        onclause (ref: pgsync/querybuilder.py:575-577)."""
        if node.table == parent.table:
            return self_join_pairs(self.tables, parent, node), " OR "
        fk = (
            node.relationship.foreign_key
            if node.relationship.foreign_key is not None
            else find_fk(self.tables, parent.table, node.table)
        )
        return list(zip(fk.parent, fk.child)), " AND "

    def _child_sql(self, node: Node, parent: Node, parent_alias: str) -> str:
        if node.relationship.through_tables:
            return self._through_sql(node, parent, parent_alias)
        pairs, combinator = self._join_pairs(node, parent)
        a = f"c{next(self._ids)}"
        fields = self._fields_sql(node, a)
        where = combinator.join(
            f"{a}.{_q(cc)} = {parent_alias}.{_q(pc)}" for pc, cc in pairs
        )
        tbl = self._t(node.table)
        if node.relationship.type == ONE_TO_MANY:
            if node.relationship.variant == SCALAR and len(node.columns) == 1 and not node.children:
                value = fields[0][1]
                return (
                    f"(SELECT to_json(list({value} ORDER BY {value} ASC NULLS LAST))"
                    f" FROM {tbl} {a} WHERE {where})"
                )
            # order by canonical JSON string — matches the Spark side's
            # engine-independent binary sort (see compiler._aggregate_many)
            order = f"CAST({self._json_object(fields)} AS VARCHAR)"
            return (
                f"(SELECT to_json(list({self._json_object(fields)} ORDER BY {order}))"
                f" FROM {tbl} {a} WHERE {where})"
            )
        # one_to_one
        if node.relationship.variant == SCALAR and len(node.columns) == 1 and not node.children:
            return f"(SELECT {fields[0][1]} FROM {tbl} {a} WHERE {where})"
        return f"(SELECT {self._json_object(fields)} FROM {tbl} {a} WHERE {where})"

    def _through_sql(self, node: Node, parent: Node, parent_alias: str) -> str:
        through = node.relationship.through_tables[0]
        fk_parent = find_fk(self.tables, parent.table, through)
        fk_child = find_fk(self.tables, node.table, through)
        t = f"t{next(self._ids)}"
        a = f"c{next(self._ids)}"
        fields = self._fields_sql(node, a)
        join = " AND ".join(
            f"{a}.{_q(nc)} = {t}.{_q(tc)}"
            for nc, tc in zip(fk_child.parent, fk_child.child)
        )
        where = " AND ".join(
            f"{t}.{_q(tc)} = {parent_alias}.{_q(pc)}"
            for pc, tc in zip(fk_parent.parent, fk_parent.child)
        )
        if node.relationship.variant == SCALAR and len(node.columns) == 1 and not node.children:
            value = fields[0][1]
            return (
                f"(SELECT to_json(list({value} ORDER BY {value} ASC NULLS LAST))"
                f" FROM {self._t(through)} {t} JOIN {self._t(node.table)} {a} ON {join} WHERE {where})"
            )
        order = f"CAST({self._json_object(fields)} AS VARCHAR)"
        return (
            f"(SELECT to_json(list({self._json_object(fields)} ORDER BY {order}))"
            f" FROM {self._t(through)} {t} JOIN {self._t(node.table)} {a} ON {join} WHERE {where})"
        )

    # -- _meta ---------------------------------------------------------
    def _meta_branches(self, tree: Tree) -> dict[tuple[str, str], list[str]]:
        """(table, pk) → list of correlated SELECT branches producing the
        reachable pk values for one root row. Multiple branches (same table
        on several tree paths) are UNION ALL'd before distinct+sort,
        matching the Spark side's array concat merge."""
        out: dict[tuple[str, str], list[str]] = {}

        def branch(table: str, pk: str, alias: str, from_sql: str, where: str):
            out.setdefault((table, pk), []).append(
                f"SELECT {alias}.{_q(pk)} AS x FROM {from_sql} WHERE {where}"
            )

        def from_clause(chain: list[tuple[str, str, str]]) -> str:
            parts = []
            for i, (tbl, al, cond) in enumerate(chain):
                if i == 0:
                    parts.append(f"{self._t(tbl)} {al}")
                else:
                    parts.append(f"JOIN {self._t(tbl)} {al} ON {cond}")
            return " ".join(parts)

        def walk(node: Node, chain: list[tuple[str, str, str]]):
            my_alias = chain[-1][1] if chain else "r"
            if chain:
                for pk in self._pks(node):
                    branch(node.table, pk, my_alias, from_clause(chain), chain[0][2])
            else:
                for pk in self._pks(node):
                    out.setdefault((node.table, pk), []).append(
                        f"SELECT r.{_q(pk)} AS x"
                    )
            for ch in node.children:
                if ch.relationship.through_tables:
                    through = ch.relationship.through_tables[0]
                    fk_p = find_fk(self.tables, node.table, through)
                    fk_c = find_fk(self.tables, ch.table, through)
                    t_alias = f"m{next(self._ids)}"
                    c_alias = f"m{next(self._ids)}"
                    t_cond = " AND ".join(
                        f"{t_alias}.{_q(tc)} = {my_alias}.{_q(pc)}"
                        for pc, tc in zip(fk_p.parent, fk_p.child)
                    )
                    t_chain = chain + [(through, t_alias, t_cond)]
                    for tpk in self.tables[through].primary_key:
                        branch(
                            through, tpk, t_alias, from_clause(t_chain), t_chain[0][2]
                        )
                    c_cond = " AND ".join(
                        f"{c_alias}.{_q(nc)} = {t_alias}.{_q(tc)}"
                        for nc, tc in zip(fk_c.parent, fk_c.child)
                    )
                    walk(ch, t_chain + [(ch.table, c_alias, c_cond)])
                else:
                    pairs, combinator = self._join_pairs(ch, node)
                    c_alias = f"m{next(self._ids)}"
                    cond = "(" + combinator.join(
                        f"{c_alias}.{_q(cc)} = {my_alias}.{_q(pc)}"
                        for pc, cc in pairs
                    ) + ")"
                    walk(ch, chain + [(ch.table, c_alias, cond)])

        walk(tree.root, [])
        return out

    def _meta_sql(self, tree: Tree) -> str:
        branches = self._meta_branches(tree)
        by_table: dict[str, dict[str, str]] = {}
        root_table = tree.root.table
        root_pks = set(self._pks(tree.root))
        for (tbl, pk), parts in branches.items():
            if tbl == root_table and pk in root_pks and len(parts) == 1:
                sql = f"to_json([r.{_q(pk)}])"
            else:
                union = " UNION ALL ".join(parts)
                sql = (
                    f"(SELECT to_json(list_sort(list_distinct(list(x))))"
                    f" FROM ({union}) u)"
                )
            by_table.setdefault(tbl, {})[pk] = sql
        table_args = []
        for tbl in sorted(by_table):
            pk_args = ", ".join(
                f"'{pk}', {by_table[tbl][pk]}" for pk in sorted(by_table[tbl])
            )
            table_args.append(f"'{tbl}', json_object({pk_args})")
        return f"json_object({', '.join(table_args)})"

    # -- root ----------------------------------------------------------
    def compile(self, tree: Tree) -> str:
        root = tree.root
        fields = self._fields_sql(root, "r")
        pks = self._pks(root)
        id_expr = "concat_ws('|', " + ", ".join(
            f"CAST(r.{_q(pk)} AS VARCHAR)" for pk in pks
        ) + ")"
        parts = [("_meta", self._meta_sql(tree)), *fields]
        doc = f"CAST({self._json_object(parts)} AS VARCHAR)"
        return (
            f"SELECT {id_expr} AS _id, {doc} AS doc FROM {self._t(root.table)} r"
        )


def oracle_doc_sql(
    tree: Tree,
    tables: dict[str, TableMeta],
    columns_of: Callable[[str], list[str]],
    column_type_of: Callable[[str, str], str],
    table_names: dict[str, str] | None = None,
) -> str:
    return OracleCompiler(
        tables, columns_of, column_type_of, table_names
    ).compile(tree)
