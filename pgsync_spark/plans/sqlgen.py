"""Tree → one ``spark.sql()`` text: the denormalization compiler.

Reference semantics being reproduced (toluaina/pgsync):

- Every generated join is LEFT OUTER (ref: pgsync/querybuilder.py:78,
  578-582, 729-733, 901-905) on equi FK pairs, composite keys iterated
  positionally (ref: pgsync/querybuilder.py:506-510).
- one_to_many children become grouped JSON arrays: the reference emits
  ``JSON_AGG(JSON_BUILD_OBJECT(...)) GROUP BY fk`` inside a correlated
  lateral subquery (ref: pgsync/querybuilder.py:936-992). Here the child
  subquery is **decorrelated** — ``GROUP BY fk`` with a sorted
  ``collect_list(struct(...))``, left-joined to the parent — the plan
  Catalyst would make of the correlated form, written directly so
  aggregation runs map-side first.
- one_to_one children join directly and are wrapped as a struct
  (variant=object) or inlined as a bare value (variant=scalar)
  (ref: pgsync/querybuilder.py:941-961).
- through tables (many-to-many): the node subquery joins the through
  table on the node-side FK, aggregates by the through table's
  parent-side FK, and the through table's PKs join the ``_keys``
  lineage (ref: pgsync/querybuilder.py:584-841, through-keys 764-783).
- self-joins (child.table == parent.table) OR-combine the onclause
  (ref: pgsync/querybuilder.py:575-577). A single pair is an ordinary
  equi-join; several pairs compile to a UNION ALL of one equi-join per
  pair, deduped on (parent PK, child PK) — never a nested-loop OR join.
- ``_keys`` lineage: every node contributes its PK values per table,
  bubbled up the tree and squashed at the root into
  ``_meta: {table: {pk: [sorted distinct values]}}``
  (ref: pgsync/querybuilder.py:364-386, pgsync/transform.py:230-288).

Determinism (stricter than the reference, whose JSON_AGG order is
unspecified): object arrays are sorted by their canonical JSON
rendering, scalar arrays by value, ``_meta`` arrays sorted + distinct,
so output is stable across partitionings and cluster sizes.

Why one text (driver-side plan-construction cost): building
the tree through DataFrame ops pays one eager JVM analysis pass per op
(~50 per tree, ~1,350 py4j round-trips). The incremental engine compiles
once per micro-batch (the restricted recompute re-compiles with the
batch's root keys); one SQL text costs one parse+analyze plus a temp-view
registration per table. The DuckDB oracle (plans/oracle.py) is the
independent second form every topology is checked against.
"""

from __future__ import annotations

import itertools
import re
import threading
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from .. import exc
from ..catalog import Catalog
from ..node import (
    ONE_TO_MANY,
    SCALAR,
    SYSTEM_COLUMNS,
    ColumnSpec,
    ForeignKey,
    Node,
    Tree,
)
from ..operators import joins as _joins


def _bt(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def _s(text: str) -> str:
    """Spark SQL string literal (backslash IS an escape char)."""
    return "'" + text.replace("\\", "\\\\").replace("'", "''") + "'"


_JSON_OPTS = "map('ignoreNullFields', 'false')"


def _json_path_sql(spec: ColumnSpec) -> str:
    """A JSON path column (``doc->x->1->z``) as ``get_json_object``
    over the string column (ref: pgsync/node.py:197-303): ``->``/``#>``
    and ``->>``/``#>>`` both come out as the sub-tree's text."""
    path = "$"
    for token in spec.path:
        if token.lstrip("-").isdigit():
            path += f"[{int(token)}]"
        else:
            path += f".{token}"
    return f"get_json_object({_bt(spec.name)}, {_s(path)})"


def _struct_sql(fields: list[tuple[str, str]]) -> str:
    return "struct(" + ", ".join(f"{ex} AS {_bt(lbl)}" for lbl, ex in fields) + ")"


def _drop_falsy_sql(ex: str) -> str:
    """NULL out falsy values so concat_ws skips them — the reference's
    ``filter(None, values)`` (ref: pgsync/transform.py:98-100)."""
    s = f"CAST({ex} AS STRING)"
    return (
        f"CASE WHEN ({ex} IS NULL) OR ({s} = '') OR ({s} = '0') "
        f"OR ({s} = '0.0') OR ({s} = 'false') "
        f"THEN CAST(NULL AS STRING) ELSE {s} END"
    )


def _transforms_sql(
    node: Node, fields: list[tuple[str, str]]
) -> list[tuple[str, str]]:
    """The node's transform block on (label, sql) pairs, in the
    reference's order replace → rename → concat (ref:
    pgsync/transform.py:211-216): ``replace`` is substring replace on
    the string form, ``rename`` relabels, ``concat`` joins columns (or
    literal names) with a delimiter, dropping falsy values. The
    reference applies these per row in Python; here they are plan-time
    expressions inside codegen."""
    spec = node.transform or {}
    if not spec:
        return fields
    out = list(fields)

    replace = spec.get("replace") or {}
    if replace:
        out2 = []
        for lbl, ex in out:
            if lbl in replace:
                for old, new in replace[lbl].items():
                    ex = f"replace(CAST({ex} AS STRING), {_s(old)}, {_s(new)})"
            out2.append((lbl, ex))
        out = out2

    rename = spec.get("rename") or {}
    if rename:
        out = [(rename.get(lbl, lbl), ex) for lbl, ex in out]

    concat = spec.get("concat") or {}
    if concat:
        specs = concat if isinstance(concat, list) else [concat]
        by_label = dict(out)
        for c in specs:
            cols = c.get("columns", [])
            dest = c.get("destination")
            delim = c.get("delimiter", "")
            parts = [
                _drop_falsy_sql(by_label[name])
                if name in by_label
                else _s(str(name))
                for name in cols
            ]
            out.append((dest, f"concat_ws({_s(delim)}, {', '.join(parts)})"))
    return out


@dataclass
class SqlNodePlan:
    """One compiled child subtree: a joinable subquery, its join-key
    and payload column names and its lineage key arrays."""

    sql: str
    join_keys: list[str]
    payload: str
    keys_cols: dict[tuple[str, str], str]


@dataclass
class SqlCompiled:
    """The compiled tree: ``sql`` is the tree-level query (root pks +
    ``__f_*`` fields + ``__k_*`` arrays); ``keys_cols`` maps
    (table, pk) to its lineage array column."""

    sql: str
    tree: Tree
    root_pks: list[str]
    field_names: list[str]
    keys_cols: dict[tuple[str, str], str]


class SqlTreeCompiler:
    """Post-order traversal emitting text. ``views`` maps table →
    registered temp-view name; ``rk_view``/``rk_cols`` name the
    root-keys view and its (positional) columns; ``broadcast_rk``
    hints the root-keys semi-joins (operators/joins.maybe_broadcast's
    size rule)."""

    def __init__(
        self,
        catalog: Catalog,
        views: dict[str, str],
        rk_view: str | None = None,
        rk_cols: list[str] | None = None,
        broadcast_rk: bool = False,
        root_filters: list[dict] | None = None,
    ):
        self.catalog = catalog
        self.views = views
        self.rk_view = rk_view
        self.rk_cols = rk_cols or []
        self.broadcast_rk = broadcast_rk
        self.root_filters = root_filters
        self._ids = itertools.count()

    # ------------------------------------------------------------------
    def compile(self, tree: Tree) -> SqlCompiled:
        return self._root(tree)

    # ------------------------------------------------------------------
    def _columns_for(self, node: Node) -> list[ColumnSpec]:
        if node.columns:
            return node.columns
        cols = [
            c for c in self.catalog.columns(node.table) if c not in SYSTEM_COLUMNS
        ]
        return [ColumnSpec(name=c, label=c) for c in cols]

    def _base_sql(
        self,
        node: Node,
        extra_cols: set[str],
        key_exprs: list[str],
        filter_only_cols: frozenset[str] = frozenset(),
    ) -> tuple[str, list[ColumnSpec], set[str], list[str]]:
        """Returns (sql, specs, needed, scan_cols). ``filter_only_cols``
        are scanned so a root WHERE can reference them, but are NOT
        part of ``needed``: the caller trims them after the filter."""
        specs = self._columns_for(node)
        table_cols = set(self.catalog.columns(node.table))
        needed = set(extra_cols)
        for s in specs:
            if s.name not in table_cols:
                raise exc.ColumnNotFoundError(
                    f"column {s.name!r} not on table {node.table!r}"
                )
            needed.add(s.name)
        needed.update(self.catalog.primary_key(node.table, node))
        scan_cols = sorted(needed | (filter_only_cols & table_cols))
        cols = [_bt(c) for c in scan_cols] + key_exprs
        sql = f"SELECT {', '.join(cols)} FROM {self.views[node.table]}"
        return sql, specs, needed, scan_cols

    def _payload_fields(
        self, node: Node, specs: list[ColumnSpec]
    ) -> list[tuple[str, str]]:
        df_schema = {
            f.name: f.dataType
            for f in self.catalog.df(node.table).schema.fields
        }
        out: list[tuple[str, str]] = []
        for s in specs:
            if s.is_json_path:
                out.append((s.label, _json_path_sql(s)))
                continue
            ex = _bt(s.name)
            dt = df_schema.get(s.name)
            if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
                ex = f"date_format({ex}, 'yyyy-MM-dd HH:mm:ss')"
            elif isinstance(dt, T.DateType):
                ex = f"date_format({ex}, 'yyyy-MM-dd')"
            out.append((s.label, ex))
        return out

    def _key_array_type(self, table: str, pk: str) -> str:
        """DDL of a lineage key array: array<pk-column-type>, or
        array<string> for composite tuple keys."""
        if "|" in pk:
            return "array<string>"
        dt = self.catalog.df(table).schema[pk].dataType
        return T.ArrayType(dt).simpleString()

    # ------------------------------------------------------------------
    def _child_plan(self, node: Node, parent: Node) -> SqlNodePlan:
        nid = next(self._ids)
        rel = node.relationship

        if rel.through_tables:
            return self._through_plan(node, parent, nid)

        fk = self.catalog.resolve_fk(parent, node)
        child_fk_cols = list(fk.child)

        body, specs, fields, keys_cols, body_cols = self._node_body(
            node, extra=set(child_fk_cols)
        )
        body, body_cols = self._prefilter_child(
            body, body_cols, child_fk_cols, list(fk.parent), parent
        )

        jk_names = [f"__jk_{nid}_{i}" for i in range(len(child_fk_cols))]

        if rel.type == ONE_TO_MANY:
            return self._aggregate_many(
                node, nid, body, fields, keys_cols, child_fk_cols, jk_names
            )

        payload_name = f"__p_{nid}"
        if rel.variant == SCALAR and len(specs) == 1 and not node.children:
            payload = fields[0][1]
        else:
            payload = _struct_sql(fields)
        sel = [
            f"{_bt(c)} AS {_bt(jk)}" for c, jk in zip(child_fk_cols, jk_names)
        ]
        sel.append(f"{payload} AS {_bt(payload_name)}")
        out_keys: dict[tuple[str, str], str] = {}
        for key, colname in keys_cols.items():
            sel.append(_bt(colname))
            out_keys[key] = colname
        return SqlNodePlan(
            f"SELECT {', '.join(sel)} FROM ({body})",
            jk_names,
            payload_name,
            out_keys,
        )

    def _node_body(
        self, node: Node, extra: set[str]
    ) -> tuple[str, list[ColumnSpec], list[tuple[str, str]], dict, list[str]]:
        """Returns (sql, specs, field (label, expr) pairs, keys_cols,
        output column order)."""
        child_extra: set[str] = set()
        child_plans: list[tuple[Node, object, list[str]]] = []
        for ch in node.children:
            if ch.relationship.through_tables:
                through = ch.relationship.through_tables[0]
                fk = self.catalog.foreign_key(node.table, through)
                parent_cols = list(fk.parent)
            elif ch.table == node.table:
                from ..catalog import self_join_pairs

                pairs = self_join_pairs(self.catalog.tables, node, ch)
                if len(pairs) == 1:
                    fk = ForeignKey(
                        parent=(pairs[0][0],), child=(pairs[0][1],)
                    )
                    parent_cols = [pairs[0][0]]
                else:
                    fk = pairs  # list marker → OR-join decomposition
                    parent_cols = [p for p, _ in pairs]
                child_extra.update(self.catalog.primary_key(node.table, node))
            else:
                fk = self.catalog.resolve_fk(node, ch)
                parent_cols = list(fk.parent)
            child_extra.update(parent_cols)
            child_plans.append((ch, fk, parent_cols))

        keys_cols: dict[tuple[str, str], str] = {}
        pks = self.catalog.primary_key(node.table, node)
        key_exprs: list[str] = []
        base_key_names: list[str] = []
        for pk in pks:
            kname = f"__k_{node.table}__{pk}__{next(self._ids)}"
            key_exprs.append(f"array({_bt(pk)}) AS {_bt(kname)}")
            keys_cols[(node.table, pk)] = kname
            base_key_names.append(kname)
        if len(pks) > 1:
            kname = f"__k_{node.table}__tuple__{next(self._ids)}"
            inner = ", ".join(f"CAST({_bt(p)} AS STRING)" for p in pks)
            key_exprs.append(
                f"array(concat_ws('|', {inner})) AS {_bt(kname)}"
            )
            keys_cols[(node.table, "|".join(pks))] = kname
            base_key_names.append(kname)

        fcols: frozenset[str] = frozenset()
        if node.parent is None and self.root_filters:
            fcols = frozenset(
                k for clause in self.root_filters for k in clause
            )
        sql, specs, needed, scan_cols = self._base_sql(
            node, extra | child_extra, key_exprs, filter_only_cols=fcols
        )
        # running output-column order of the body (a semi-join puts
        # its keys first); the caller's projections select by name
        cur_cols: list[str] = scan_cols + base_key_names
        if node.parent is None and self.rk_view is not None:
            rpks = list(self.catalog.primary_key(node.table, node))
            rk_sel = ", ".join(
                f"{_bt(c)} AS {_bt(p)}" for c, p in zip(self.rk_cols, rpks)
            )
            sql, cur_cols = self._using_semi(
                sql,
                cur_cols,
                rpks,
                f"SELECT DISTINCT {rk_sel} FROM {self.rk_view}",
            )
        if node.parent is None and self.root_filters:
            from ..operators.filters import filters_to_spark_sql

            # every table column is typed, filter-only ones included,
            # so the mixed-type guard covers them too
            dtypes = dict(self.catalog.df(node.table).dtypes)
            sql = (
                f"SELECT * FROM ({sql}) WHERE "
                f"{filters_to_spark_sql(self.root_filters, dtypes)}"
            )
            extra_scanned = [c for c in scan_cols if c not in needed]
            if extra_scanned:
                # trim the filter-only columns back out
                keep = sorted(needed) + base_key_names
                sql = (
                    f"SELECT {', '.join(_bt(c) for c in keep)} "
                    f"FROM ({sql})"
                )
                cur_cols = keep
        fields = self._payload_fields(node, specs)

        if child_plans:
            # flat left-deep join over the base + one subquery per child.
            # Output columns: the base's, then each child's jk/payload/
            # key columns in join order; a key merge drops its two
            # sources and appends the merged array (an inline concat
            # chain) at the end.
            ordered: list[tuple[str, str]] = [
                (c, f"__b.{_bt(c)}") for c in cur_cols
            ]
            joins: list[str] = []
            for idx, (ch, fk, parent_cols) in enumerate(child_plans):
                if isinstance(fk, list):  # multi-pair self-join (OR rule)
                    plan = self._self_or_plan(ch, node, sql, fk)
                    parent_cols = list(pks)
                else:
                    plan = self._child_plan(ch, node)
                alias = f"__c{idx}"
                cond = " AND ".join(
                    f"__b.{_bt(pc)} = {alias}.{_bt(jk)}"
                    for pc, jk in zip(parent_cols, plan.join_keys)
                )
                joins.append(f"LEFT JOIN ({plan.sql}) {alias} ON {cond}")
                fields.append((ch.name, _bt(plan.payload)))
                ordered.extend(
                    (jk, f"{alias}.{_bt(jk)}") for jk in plan.join_keys
                )
                ordered.append(
                    (plan.payload, f"{alias}.{_bt(plan.payload)}")
                )
                ordered.extend(
                    (cn, f"{alias}.{_bt(cn)}")
                    for cn in plan.keys_cols.values()
                )
                for key, colname in plan.keys_cols.items():
                    if key in keys_cols:
                        merged = f"__k_{key[0]}__{key[1]}__{next(self._ids)}"
                        t = self._key_array_type(*key)
                        empty = f"CAST(array() AS {t})"
                        by_name = dict(ordered)
                        merged_ex = (
                            f"concat(coalesce({by_name[keys_cols[key]]}, "
                            f"{empty}), coalesce({by_name[colname]}, "
                            f"{empty}))"
                        )
                        ordered = [
                            (n, ex)
                            for n, ex in ordered
                            if n not in (keys_cols[key], colname)
                        ]
                        ordered.append((merged, merged_ex))
                        keys_cols[key] = merged
                    else:
                        keys_cols[key] = colname
            out_cols = [f"{ex} AS {_bt(n)}" for n, ex in ordered]
            sql = (
                f"SELECT {', '.join(out_cols)} "
                f"FROM ({sql}) __b {' '.join(joins)}"
            )

        if child_plans:
            cur_cols = [n for n, _ in ordered]
        fields = _transforms_sql(node, fields)
        return sql, specs, fields, keys_cols, cur_cols

    # ------------------------------------------------------------------
    def _aggregate_many(
        self,
        node: Node,
        nid: int,
        body: str,
        fields: list[tuple[str, str]],
        keys_cols: dict,
        group_cols: list[str],
        jk_names: list[str],
        extra_key_collect: dict | None = None,
    ) -> SqlNodePlan:
        rel = node.relationship
        payload_name = f"__p_{nid}"

        if rel.variant == SCALAR and len(node.columns) == 1 and not node.children:
            value = fields[0][1]
            payload_agg = (
                f"array_sort(collect_list({value})) AS {_bt(payload_name)}"
            )
        else:
            pstruct = _struct_sql(fields)
            payload_agg = (
                f"array_sort(collect_list({pstruct}), (x, y) -> CASE "
                f"WHEN to_json(x, {_JSON_OPTS}) < to_json(y, {_JSON_OPTS}) "
                f"THEN -1 "
                f"WHEN to_json(x, {_JSON_OPTS}) > to_json(y, {_JSON_OPTS}) "
                f"THEN 1 ELSE 0 END) AS {_bt(payload_name)}"
            )

        aggs = [payload_agg]
        out_keys: dict[tuple[str, str], str] = {}
        for key, colname in keys_cols.items():
            merged = f"__k_{key[0]}__{key[1]}__{next(self._ids)}"
            aggs.append(
                f"flatten(collect_list({_bt(colname)})) AS {_bt(merged)}"
            )
            out_keys[key] = merged
        for key, colexpr in (extra_key_collect or {}).items():
            merged = f"__k_{key[0]}__{key[1]}__{next(self._ids)}"
            aggs.append(f"collect_list({colexpr}) AS {_bt(merged)}")
            out_keys[key] = merged

        group_sel = ", ".join(
            f"{_bt(c)} AS {_bt(jk)}" for c, jk in zip(group_cols, jk_names)
        )
        group_by = ", ".join(_bt(c) for c in group_cols)
        sql = (
            f"SELECT {group_sel}, {', '.join(aggs)} FROM ({body}) "
            f"GROUP BY {group_by}"
        )
        return SqlNodePlan(sql, jk_names, payload_name, out_keys)

    def _self_or_plan(
        self,
        node: Node,
        parent: Node,
        parent_sql: str,
        pairs: list[tuple[str, str]],
    ) -> SqlNodePlan:
        """Self-join child with several FK column pairs, OR-combined
        (ref: pgsync/querybuilder.py:575-577). A literal OR join is a
        nested loop at scale, so: one equi-join per pair against the
        parent's distinct key rows, UNION ALL, then dedup on
        (parent PK, child PK) — a child matching through several pairs
        lands once — and the usual grouping by the parent PKs. Both
        dedups are ``GROUP BY subset`` with ``first()`` for the other
        columns, the form Catalyst rewrites ``dropDuplicates(subset)``
        into (ReplaceDeduplicateWithAggregate)."""
        nid = next(self._ids)
        rel = node.relationship
        ppks = list(self.catalog.primary_key(parent.table, parent))
        cpks = list(self.catalog.primary_key(node.table, node))
        cbody, specs, cfields, ckeys, ccols = self._node_body(
            node, extra={c for _, c in pairs} | set(cpks)
        )
        sp = {
            c: f"__sp_{nid}_{c}"
            for c in dict.fromkeys(ppks + [p for p, _ in pairs])
        }

        def dedup(body: str, cols: list[str], key: list[str]) -> str:
            sel = [_bt(c) for c in key] + [
                f"first({_bt(c)}) AS {_bt(c)}" for c in cols if c not in key
            ]
            return (
                f"SELECT {', '.join(sel)} FROM ({body}) "
                f"GROUP BY {', '.join(_bt(c) for c in key)}"
            )

        psel = ", ".join(f"{_bt(c)} AS {_bt(a)}" for c, a in sp.items())
        psql = dedup(
            f"SELECT {psel} FROM ({parent_sql})",
            list(sp.values()),
            [sp[k] for k in ppks],
        )
        union = " UNION ALL ".join(
            f"SELECT * FROM ({psql}) __p INNER JOIN ({cbody}) __c "
            f"ON __p.{_bt(sp[p])} = __c.{_bt(c)}"
            for p, c in pairs
        )
        group_cols = [sp[k] for k in ppks]
        matched = dedup(union, list(sp.values()) + ccols, group_cols + cpks)
        jk_names = [f"__jk_{nid}_{i}" for i in range(len(ppks))]
        if rel.type == ONE_TO_MANY:
            return self._aggregate_many(
                node, nid, matched, cfields, ckeys, group_cols, jk_names
            )
        # one_to_one: one row per match (several OR matches duplicate the
        # parent row — the reference's join does the same)
        payload_name = f"__p_{nid}"
        if rel.variant == SCALAR and len(specs) == 1 and not node.children:
            payload = cfields[0][1]
        else:
            payload = _struct_sql(cfields)
        sel = [f"{_bt(g)} AS {_bt(jk)}" for g, jk in zip(group_cols, jk_names)]
        sel.append(f"{payload} AS {_bt(payload_name)}")
        sel.extend(_bt(c) for c in ckeys.values())
        return SqlNodePlan(
            f"SELECT {', '.join(sel)} FROM ({matched})",
            jk_names,
            payload_name,
            dict(ckeys),
        )

    # ------------------------------------------------------------------
    def _using_semi(
        self,
        body: str,
        body_cols: list[str],
        on_cols: list[str],
        keys_sql: str,
    ) -> tuple[str, list[str]]:
        """Left semi-join of ``body`` against ``keys_sql`` on
        ``on_cols``, broadcast-hinted when ``broadcast_rk``. Output puts
        the join keys first, then the remaining body columns in order;
        returns (sql, new column order)."""
        hint = "/*+ BROADCAST(__sk) */ " if self.broadcast_rk else ""
        cond = " AND ".join(
            f"__b.{_bt(c)} = __sk.{_bt(c)}" for c in on_cols
        )
        on = set(on_cols)
        keep = list(on_cols) + [c for c in body_cols if c not in on]
        sel = ", ".join(f"__b.{_bt(c)}" for c in keep)
        sql = (
            f"SELECT {hint}{sel} FROM ({body}) __b LEFT SEMI JOIN "
            f"({keys_sql}) __sk ON {cond}"
        )
        return sql, keep

    def _prefilter_child(
        self,
        body: str,
        body_cols: list[str],
        child_cols: list[str],
        parent_cols: list[str],
        parent: Node,
    ) -> tuple[str, list[str]]:
        if self.rk_view is None or parent.parent is not None:
            return body, body_cols
        pks = list(self.catalog.primary_key(parent.table, parent))
        if not set(parent_cols).issubset(set(pks)):
            return body, body_cols
        rk_of = {p: c for c, p in zip(self.rk_cols, pks)}
        sel = ", ".join(
            f"{_bt(rk_of[p])} AS {_bt(c)}"
            for c, p in zip(child_cols, parent_cols)
        )
        return self._using_semi(
            body,
            body_cols,
            list(child_cols),
            f"SELECT DISTINCT {sel} FROM {self.rk_view}",
        )

    # ------------------------------------------------------------------
    def _through_plan(self, node: Node, parent: Node, nid: int) -> SqlNodePlan:
        through = node.relationship.through_tables[0]
        fk_parent = self.catalog.foreign_key(parent.table, through)
        fk_child = self.catalog.foreign_key(node.table, through)

        nbody, specs, fields, keys_cols, _ncols = self._node_body(
            node, extra=set(fk_child.parent)
        )

        tneeded = set(fk_parent.child) | set(fk_child.child)
        tpks = self.catalog.primary_key(through)
        tneeded.update(tpks)
        talias = f"__t_{nid}"
        tsql = (
            f"SELECT {', '.join(_bt(c) for c in sorted(tneeded))} "
            f"FROM {self.views[through]}"
        )
        tsql, _tcols = self._prefilter_child(
            tsql, sorted(tneeded), list(fk_parent.child),
            list(fk_parent.parent), parent
        )
        tsel = ", ".join(
            f"{_bt(c)} AS {_bt(f'{talias}_{c}')}" for c in sorted(tneeded)
        )
        tsql = f"SELECT {tsel} FROM ({tsql})"

        cond = " AND ".join(
            f"__n.{_bt(nc)} = __t.{_bt(f'{talias}_{tc}')}"
            for nc, tc in zip(fk_child.parent, fk_child.child)
        )
        joined = (
            f"SELECT * FROM ({tsql}) __t INNER JOIN ({nbody}) __n ON {cond}"
        )

        group_cols = [f"{talias}_{c}" for c in fk_parent.child]
        jk_names = [f"__jk_{nid}_{i}" for i in range(len(group_cols))]
        extra_keys: dict[tuple[str, str], str] = {
            (through, pk): _bt(f"{talias}_{pk}") for pk in tpks
        }
        if len(tpks) > 1:
            inner = ", ".join(
                f"CAST({_bt(f'{talias}_{pk}')} AS STRING)" for pk in tpks
            )
            extra_keys[(through, "|".join(tpks))] = f"concat_ws('|', {inner})"
        return self._aggregate_many(
            node,
            nid,
            joined,
            fields,
            keys_cols,
            group_cols,
            jk_names,
            extra_key_collect=extra_keys,
        )

    # ------------------------------------------------------------------
    def _root(self, tree: Tree) -> SqlCompiled:
        node = tree.root
        body, specs, fields, keys_cols, _cols = self._node_body(
            node, extra=set()
        )
        pks = list(self.catalog.primary_key(node.table, node))

        sel: list[str] = [_bt(pk) for pk in pks]
        field_names: list[str] = []
        for lbl, ex in fields:
            sel.append(f"{ex} AS {_bt('__f_' + lbl)}")
            field_names.append(lbl)
        for key, colname in keys_cols.items():
            sel.append(_bt(colname))
        sql = f"SELECT {', '.join(sel)} FROM ({body})"
        return SqlCompiled(
            sql=sql,
            tree=tree,
            root_pks=pks,
            field_names=field_names,
            keys_cols=dict(keys_cols),
        )


# ---------------------------------------------------------------------------
# Integration: temp-view registration + the single spark.sql() call
# ---------------------------------------------------------------------------

_VIEW_IDS = itertools.count()


def _safe(name: str) -> str:
    return re.sub(r"[^A-Za-z0-9_]", "_", name)


class ViewScope:
    """The one temp-view registrar: every view a one-SQL text reads is
    registered here, under a fresh ``__sg<N>`` prefix per owner.

    Every view is GLOBAL: in foreachBatch the frames are bound to the
    stream's CLONED SparkSession, whose session-temp-view catalog is
    isolated from the owner's — a session view registered there is
    invisible to the owner's spark.sql (found by
    test_cdc_through_the_streaming_pipeline). The global-temp catalog
    is application-wide.

    Names are REPLACED, never dropped, while their frames may be live:
    dropping a view whose definition is a persisted frame's plan
    uncaches that frame (CacheManager cascade — the recall eval's legs
    silently recomputed their artifacts, 17 InMemoryTableScans → 0),
    while replacing it uncaches neither frame. spark.sql analyzes
    eagerly, so a view has to hold only between registration and the
    sql() call. Two kinds of name:

    - ``view_for(key, df)``: one owner-level name per key, re-registered
      only when the key's frame object changed (an unchanged snapshot
      costs zero py4j calls per batch);
    - ``lease()``: a slot for one query's construction — concurrent
      constructions hold distinct slots, so no thread binds another's
      frames, and the name count is bounded by peak concurrent leases
      times keys.

    ``release()`` drops every name (owner teardown)."""

    def __init__(self, spark):
        self.spark = spark
        self.prefix = f"__sg{next(_VIEW_IDS)}"
        self._db = spark.conf.get("spark.sql.globalTempDatabase", "global_temp")
        self._lock = threading.Lock()
        self._free: list[int] = []
        self._slots = itertools.count()
        # key -> frame; the strong ref makes the identity check sound
        # (an id() after GC could collide)
        self._views: dict[str, DataFrame] = {}
        self._names: set[str] = set()

    def _register(self, df: DataFrame, name: str) -> str:
        df.createOrReplaceGlobalTempView(name)
        self._names.add(name)
        return f"{self._db}.{name}"

    def view_for(self, key: str, df: DataFrame) -> str:
        name = f"{self.prefix}_{_safe(key)}"
        if self._views.get(key) is not df:
            self._views[key] = df
            self._register(df, name)
        return f"{self._db}.{name}"

    @contextmanager
    def lease(self):
        """Yield ``view(df, key) -> qualified name`` over a slot no other
        live lease holds; every view one sql() reads goes through one
        lease."""
        with self._lock:
            slot = self._free.pop() if self._free else next(self._slots)
        try:
            yield lambda df, key: self._register(
                df, f"{self.prefix}_{slot}_{_safe(key)}"
            )
        finally:
            with self._lock:
                self._free.append(slot)

    def release(self) -> None:
        for name in self._names:
            try:
                self.spark.catalog.dropGlobalTempView(name)
            except Exception:  # noqa: BLE001 — teardown best-effort
                pass
        self._names.clear()
        self._views.clear()


_DEFAULT: ViewScope | None = None


def default_scope(spark) -> ViewScope:
    """The application's scope for stateless queries, which only lease
    from it; never released. Two threads racing the first call may
    each make one: their prefixes differ, so nothing collides."""
    global _DEFAULT
    sc = spark.sparkContext
    if _DEFAULT is None or _DEFAULT.spark.sparkContext is not sc:
        _DEFAULT = ViewScope(spark)
    return _DEFAULT


def compile_assembled(
    catalog: Catalog,
    tree: Tree,
    *,
    root_keys: DataFrame | None = None,
    root_keys_rows: int | None = None,
    root_filters: list[dict] | None = None,
    structured: bool = False,
    include_pks: bool = False,
    include_keys: bool = False,
    scope: ViewScope | None = None,
):
    """Compile + assemble ``tree`` in ONE ``spark.sql()``.

    Returns ``(DataFrame, meta)``: the frame is ``(_id, doc[, _routing])``
    with canonical compact JSON docs, or with ``structured`` the typed
    shape ``(_id[, _routing], _meta, *fields)`` a search sink maps;
    ``meta`` is the SqlCompiled inventory (``keys_cols``, root pks,
    field names).

    ``root_keys``: a frame of root PK values (positional columns); the
    root scan is semi-joined against it, and direct children whose join
    columns are root PKs are pre-filtered the same way, so the tree
    recomputes only those keys (the incremental engine's
    recompute-by-key path, ref: pgsync/sync.py:1345-1493). Broadcast
    when ``root_keys_rows`` (counted when not given) is small.

    ``root_filters``: literal filter clauses in the reference's spec
    (list=OR of dict=AND, ref: pgsync/querybuilder.py:100-132), applied
    at the root scan only (ref: querybuilder.py:469-471). A value with
    no Spark SQL literal form raises ``UnrenderableLiteral``.

    ``include_pks`` rides the typed root keys along; ``include_keys``
    adds each lineage key array (distinct, stringified) under its
    ``__k_*`` name — one materialization then serves the doc store and
    the lineage index.

    ``scope``: a caller-owned ViewScope for repeated compiles (the
    incremental engine passes its own; unchanged tables keep their
    views); without one, the views are leased from the application's
    default scope.
    """
    spark = catalog.spark
    with (
        default_scope(spark).lease()
        if scope is None
        else nullcontext(lambda df, key: scope.view_for(key, df))
    ) as view:
        views = {t: view(catalog.df(t), t) for t in sorted(tree.tables())}
        rk_view = None
        rk_cols: list[str] = []
        broadcast_rk = False
        if root_keys is not None:
            rk_view = view(root_keys, "\x00rk")
            rk_cols = list(root_keys.columns)
            n = root_keys.count() if root_keys_rows is None else root_keys_rows
            broadcast_rk = n <= _joins.BROADCAST_ROW_LIMIT

        meta = SqlTreeCompiler(
            catalog,
            views,
            rk_view=rk_view,
            rk_cols=rk_cols,
            broadcast_rk=broadcast_rk,
            root_filters=root_filters,
        ).compile(tree)

        from .docs import assemble_exprs

        cols = assemble_exprs(
            meta,
            structured=structured,
            include_pks=include_pks,
            include_keys=include_keys,
        )
        df = spark.sql(f"SELECT {', '.join(cols)} FROM ({meta.sql})")
        return df, meta
