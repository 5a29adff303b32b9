"""Node / Tree model: the declared document shape.

A user supplies a JSON "node tree" describing how relational tables are
assembled into nested documents. This module parses and validates that
config with the same surface as the reference:

- node attribute whitelist        (ref: pgsync/constants.py:34-52)
- relationship type/variant enums (ref: pgsync/constants.py:16-32)
- through_tables (max one)        (ref: pgsync/node.py:79-124)
- column defaulting: when a node declares no columns, all table columns
  are used minus system columns   (ref: pgsync/node.py:150-157)
- JSON path operators ->, ->>, #>, #>> declared inline in the columns
  list, auto-labelled by joining path tokens with "_"
                                  (ref: pgsync/node.py:197-303,
                                   pgsync/constants.py:75-80)

The tree is a pure-Python IR; compilation to one Spark SQL query lives
in plans/sqlgen.py.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from . import exc

ONE_TO_ONE = "one_to_one"
ONE_TO_MANY = "one_to_many"
RELATIONSHIP_TYPES = (ONE_TO_ONE, ONE_TO_MANY)

SCALAR = "scalar"
OBJECT = "object"
RELATIONSHIP_VARIANTS = (SCALAR, OBJECT)

# ref: pgsync/constants.py:34-52 (NODE_ATTRIBUTES)
NODE_ATTRIBUTES = frozenset(
    {
        "table",
        "schema",
        "label",
        "columns",
        "children",
        "relationship",
        "transform",
        "primary_key",
        "base_tables",
    }
)

# ref: pgsync/constants.py RELATIONSHIP_ATTRIBUTES
RELATIONSHIP_ATTRIBUTES = frozenset({"type", "variant", "through_tables", "foreign_key"})

TRANSFORM_ATTRIBUTES = frozenset({"rename", "replace", "concat", "mapping", "move"})

# System columns excluded from default projection (ref: pgsync/node.py:150-157).
# Parquet sources have no ctid/oid/xmin, but a CDC-materialized table may carry
# an explicit txid/version column which we likewise exclude by default.
SYSTEM_COLUMNS = frozenset({"ctid", "oid", "xmin", "_txid", "_op"})

# JSON path operators, longest-first so '->>' wins over '->'
# ref: pgsync/constants.py:75-80
_JSON_OP_RE = re.compile(r"(#>>|#>|->>|->)")


@dataclass(frozen=True)
class ColumnSpec:
    """One projected column, possibly a JSON path expression.

    ``name``: source column. ``path``: list of (token, as_text) steps; the
    final operator's text-ness decides string vs native extraction.
    ``label``: output field name (auto-derived for JSON paths by joining
    tokens with "_", ref: pgsync/node.py:286-294).
    """

    name: str
    label: str
    path: tuple[str, ...] = ()
    as_text: bool = False

    @property
    def is_json_path(self) -> bool:
        return bool(self.path)


def parse_column(raw: str) -> ColumnSpec:
    """Parse ``"doc->x->1->z"`` / ``"doc#>{a,b,c}"`` / plain ``"col"``.

    ref: pgsync/node.py:197-303.
    """
    parts = _JSON_OP_RE.split(raw)
    name = parts[0].strip()
    if len(parts) == 1:
        return ColumnSpec(name=name, label=name)
    tokens: list[str] = []
    as_text = False
    it = iter(parts[1:])
    for op, operand in zip(it, it):
        operand = operand.strip()
        as_text = op in ("->>", "#>>")
        if op in ("#>", "#>>"):
            inner = operand.strip("{}")
            tokens.extend(t.strip() for t in inner.split(",") if t.strip())
        else:
            tokens.append(operand.strip("'\""))
    label = "_".join([name] + tokens)
    return ColumnSpec(name=name, label=label, path=tuple(tokens), as_text=as_text)


@dataclass(frozen=True)
class ForeignKey:
    """Explicit FK mapping: parent-side columns ↔ child-side columns.

    ref: pgsync/node.py:79-124 (foreign_key {parent, child}).
    """

    parent: tuple[str, ...]
    child: tuple[str, ...]

    @classmethod
    def parse(cls, raw: dict) -> "ForeignKey":
        if not isinstance(raw, dict) or "parent" not in raw or "child" not in raw:
            raise exc.RelationshipForeignKeyError(
                f"foreign_key must declare 'parent' and 'child': {raw!r}"
            )
        parent = tuple(raw["parent"]) if isinstance(raw["parent"], (list, tuple)) else (raw["parent"],)
        child = tuple(raw["child"]) if isinstance(raw["child"], (list, tuple)) else (raw["child"],)
        if len(parent) != len(child):
            raise exc.RelationshipForeignKeyError(
                f"foreign_key parent/child arity mismatch: {raw!r}"
            )
        return cls(parent=parent, child=child)


@dataclass(frozen=True)
class Relationship:
    """ref: pgsync/node.py:79-124, pgsync/constants.py:16-58."""

    type: str | None = None
    variant: str | None = None
    through_tables: tuple[str, ...] = ()
    foreign_key: ForeignKey | None = None

    @classmethod
    def parse(cls, raw: dict | None) -> "Relationship":
        if raw is None:
            return cls()
        if not isinstance(raw, dict):
            raise exc.RelationshipError(f"relationship must be a dict: {raw!r}")
        unknown = set(raw) - RELATIONSHIP_ATTRIBUTES
        if unknown:
            raise exc.RelationshipAttributeError(
                f"unknown relationship attribute(s) {sorted(unknown)}"
            )
        rtype = raw.get("type")
        if rtype is not None and rtype not in RELATIONSHIP_TYPES:
            raise exc.RelationshipTypeError(
                f"relationship type {rtype!r} not in {RELATIONSHIP_TYPES}"
            )
        variant = raw.get("variant")
        if variant is not None and variant not in RELATIONSHIP_VARIANTS:
            raise exc.RelationshipVariantError(
                f"relationship variant {variant!r} not in {RELATIONSHIP_VARIANTS}"
            )
        through = raw.get("through_tables", [])
        if not isinstance(through, (list, tuple)):
            raise exc.RelationshipError("through_tables must be a list")
        if len(through) > 1:
            raise exc.MultipleThroughTablesError(
                f"at most one through table supported: {through!r}"
            )
        fk = ForeignKey.parse(raw["foreign_key"]) if raw.get("foreign_key") else None
        return cls(
            type=rtype,
            variant=variant,
            through_tables=tuple(through),
            foreign_key=fk,
        )


@dataclass
class Node:
    """One table's role in the document tree. ref: pgsync/node.py:127-356."""

    table: str
    schema: str | None = None
    label: str | None = None
    columns: list[ColumnSpec] = field(default_factory=list)
    relationship: Relationship = field(default_factory=Relationship)
    transform: dict = field(default_factory=dict)
    children: list["Node"] = field(default_factory=list)
    parent: "Node | None" = None
    primary_key: list[str] | None = None  # catalog override
    # physical tables underlying this node when its table is a
    # (materialized) view — CDC events naming a base table are remapped
    # to this node's table (ref: pgsync/node.py:138, sync.py:1843-1853)
    base_tables: list[str] = field(default_factory=list)

    @property
    def name(self) -> str:
        return self.label or self.table

    @property
    def is_root(self) -> bool:
        return self.parent is None

    @property
    def is_through(self) -> bool:
        return bool(self.relationship.through_tables)

    def traverse_post_order(self):
        for child in self.children:
            yield from child.traverse_post_order()
        yield self

    def traverse_breadth_first(self):
        queue = [self]
        while queue:
            node = queue.pop(0)
            yield node
            queue.extend(node.children)


@dataclass
class Tree:
    """Rooted node tree parsed from one schema entry. ref: pgsync/node.py:359-450."""

    root: Node
    index: str | None = None
    database: str | None = None
    setting: dict = field(default_factory=dict)
    routing: str | None = None
    pipeline: str | None = None  # ES ingest pipeline (ref: sync.py:121)
    # plugin NAMES to run on every synced doc (ref: sync.py:116
    # `self.plugins = doc.get("plugins", [])`, applied at sync.py:1571);
    # resolved to instances via plugin.load_plugins
    plugins: list = field(default_factory=list)

    def tables(self) -> set[str]:
        out: set[str] = set()
        for node in self.root.traverse_post_order():
            out.add(node.table)
            out.update(node.relationship.through_tables)
        return out

    def node_for_table(self, table: str) -> Node:
        for node in self.root.traverse_post_order():
            if node.table == table or table in node.relationship.through_tables:
                return node
        raise exc.TableNotInNodeError(f"table {table!r} not in node tree")


def _parse_node(raw: dict, parent: Node | None = None) -> Node:
    if not isinstance(raw, dict):
        raise exc.SchemaError(f"node must be a dict: {raw!r}")
    if "table" not in raw:
        raise exc.SchemaError(f"node missing 'table': {raw!r}")
    unknown = set(raw) - NODE_ATTRIBUTES
    if unknown:
        raise exc.NodeAttributeError(f"unknown node attribute(s) {sorted(unknown)}")
    transform = raw.get("transform", {})
    if transform:
        bad = set(transform) - TRANSFORM_ATTRIBUTES
        if bad:
            raise exc.NodeAttributeError(f"unknown transform attribute(s) {sorted(bad)}")
    node = Node(
        table=raw["table"],
        schema=raw.get("schema"),
        label=raw.get("label"),
        columns=[parse_column(c) for c in raw.get("columns", [])],
        relationship=Relationship.parse(raw.get("relationship")),
        transform=dict(transform),
        parent=parent,
        primary_key=list(raw["primary_key"]) if raw.get("primary_key") else None,
        base_tables=list(raw.get("base_tables", [])),
    )
    if parent is not None and node.relationship.type is None:
        raise exc.RelationshipTypeError(
            f"child node {node.table!r} must declare relationship.type"
        )
    for child_raw in raw.get("children", []):
        node.children.append(_parse_node(child_raw, parent=node))
    return node


def parse_tree(raw: dict) -> Tree:
    """Parse one schema entry: {"index"/"database": ..., "nodes": {...}}.

    Accepts either the full entry shape or a bare node dict.
    """
    if "nodes" in raw:
        nodes = raw["nodes"]
        if isinstance(nodes, list):  # legacy single-element list form
            if len(nodes) != 1:
                raise exc.SchemaError("'nodes' must contain exactly one root")
            nodes = nodes[0]
        root = _parse_node(nodes)
        plugins = raw.get("plugins", [])
        if not isinstance(plugins, list) or not all(
            isinstance(p, str) for p in plugins
        ):
            raise exc.SchemaError(
                f"'plugins' must be a list of plugin names: {plugins!r}"
            )
        return Tree(
            root=root,
            index=raw.get("index"),
            database=raw.get("database"),
            setting=raw.get("setting", {}),
            routing=raw.get("routing"),
            pipeline=raw.get("pipeline"),
            plugins=plugins,
        )
    return Tree(root=_parse_node(raw))
