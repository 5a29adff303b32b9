"""Property-based testing: RANDOM node trees over the testdata schema
must always hash-match their generated DuckDB oracle.

This goes beyond the reference's hand-written goldens (SURVEY §5 notes
the reference has no property-based testing): hypothesis explores
topology corners — variant/type combinations, nesting, through tables,
column subsets — that enumerated fixtures miss.
"""

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pgsync_spark import Catalog, compile_assembled, parse_tree, schemas
from pgsync_spark.catalog import TPCH_TABLES
from pgsync_spark.plans.oracle import oracle_doc_sql
from pgsync_spark.testing import compare

from conftest import SF_DIR

# (table, child_table, optional through) edges available in the registry
TABLE_COLS = {
    "region": ["r_regionkey", "r_name"],
    "nation": ["n_nationkey", "n_name", "n_regionkey"],
    "customer": ["c_custkey", "c_name", "c_acctbal", "c_mktsegment"],
    "supplier": ["s_suppkey", "s_name", "s_acctbal"],
    "orders": ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"],
    "part": ["p_partkey", "p_name", "p_brand", "p_size"],
    "lineitem": ["l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"],
}
# child edges: parent → (child, rel type options, through). orders gets
# lineitem twice (two same-table siblings under one parent); nation gets
# itself (self-join → the reference's OR onclause rule).
EDGES = {
    "orders": [
        ("customer", "one_to_one", None),
        ("lineitem", "one_to_many", None),
        ("lineitem", "one_to_many", None),
    ],
    "customer": [("nation", "one_to_one", None), ("orders", "one_to_many", None)],
    "nation": [
        ("region", "one_to_one", None),
        ("customer", "one_to_many", None),
        ("nation", "one_to_many", None),
    ],
    "supplier": [
        ("nation", "one_to_one", None),
        ("lineitem", "one_to_many", None),
        ("part", "one_to_many", "lineitem"),
    ],
    "lineitem": [("part", "one_to_one", None), ("supplier", "one_to_one", None)],
    "region": [("nation", "one_to_many", None)],
    "part": [("lineitem", "one_to_many", None)],
}


@st.composite
def tree_configs(draw, depth=2):
    root = draw(st.sampled_from(sorted(EDGES)))

    def node(table, level, is_root=False):
        cols = TABLE_COLS[table]
        ncols = draw(st.integers(min_value=1, max_value=len(cols)))
        chosen = cols[:ncols]
        # PKs must be projected for deterministic sorting keys? not
        # required by the engine — exercise both ways
        cfg = {"table": table, "columns": chosen}
        if not is_root:
            return cfg
        children = []
        if level < depth:
            for child, rtype, through in EDGES.get(table, []):
                if not draw(st.booleans()):
                    continue
                ccfg = node(child, level + 1)
                variant = draw(st.sampled_from(["object", "scalar"]))
                rel = {"type": rtype, "variant": variant}
                if through:
                    rel["through_tables"] = [through]
                if child == table:
                    # self-join needs a declared FK (the registry has no
                    # self-FK); single pair and OR'd multi-pair shapes
                    rel["foreign_key"] = draw(
                        st.sampled_from(
                            [
                                {
                                    "parent": ["n_nationkey"],
                                    "child": ["n_regionkey"],
                                },
                                {
                                    "parent": ["n_nationkey", "n_regionkey"],
                                    "child": ["n_regionkey", "n_regionkey"],
                                },
                            ]
                        )
                    )
                ccfg["relationship"] = rel
                ccfg["label"] = f"{child}_{level}_{len(children)}"
                children.append(ccfg)
        if children:
            cfg["children"] = children
        return cfg

    # only root gets children (depth-1 trees plus one nested special case
    # covered by the fixed suite) — keeps runtime bounded
    return node(root, 0, is_root=True)


@pytest.mark.slow
@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@pytest.mark.slow
@given(cfg=tree_configs())
def test_random_tree_matches_oracle(spark, cfg):
    tree = parse_tree({"index": "prop", "nodes": cfg})
    df = compile_assembled(Catalog(spark, SF_DIR), tree)[0]
    sql = oracle_doc_sql(
        tree, TPCH_TABLES, schemas.columns_of, schemas.column_type_of
    )
    ok, msg = compare(df, sql, SF_DIR)
    assert ok, f"{cfg}\n{msg}"


# ---------------------------------------------------------------------------
# Filter-spec fuzz: random clauses (mixed types, composite ANDs, OR
# lists) over orders must agree with the DuckDB rendering wherever the
# comparison is well-typed on both engines, and NEVER raise on Spark.
# ---------------------------------------------------------------------------

_FILTER_COLS = {
    "o_orderkey": "long",
    "o_custkey": "long",
    "o_orderstatus": "string",
    "o_orderpriority": "string",
}

_values = st.one_of(
    st.integers(min_value=-5, max_value=2000),
    st.sampled_from(["F", "O", "P", "7", "abc", "", "1-URGENT"]),
    st.none(),
    st.booleans(),
)

_clauses = st.lists(
    st.dictionaries(
        st.sampled_from(sorted(_FILTER_COLS)), _values, min_size=1, max_size=3
    ),
    min_size=1,
    max_size=3,
)


def _py_eq(colname, v, row):
    """Reference semantics of one predicate, in plain Python."""
    actual = row[colname]
    stringy = _FILTER_COLS[colname] == "string"
    if v is None:
        return actual is None
    if isinstance(v, bool):
        return False  # no boolean columns here → guard folds to FALSE
    if not isinstance(v, str) and stringy:
        return False  # the type guard
    if isinstance(v, str) and not stringy:
        try:
            v = int(v)
        except ValueError:
            return False  # unparseable → guard folds to FALSE
        return actual == v
    return actual == v


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@pytest.mark.slow
@given(clauses=_clauses)
def test_filter_fuzz_matches_python_model(spark, clauses):
    from pgsync_spark.operators.filters import filters_to_spark_sql

    df = spark.createDataFrame(
        [
            (1, 10, "F", "1-URGENT"),
            (7, 20, "O", "abc"),
            (2000, None, None, ""),
            (None, 7, "P", "x"),
        ],
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_orderpriority string",
    )
    rows = [r.asDict() for r in df.collect()]
    cond = filters_to_spark_sql(clauses, dict(df.dtypes))
    got = {
        tuple(r.asDict().values()) for r in df.filter(cond).collect()
    }
    want = {
        tuple(r.values())
        for r in rows
        if any(
            all(_py_eq(k, v, r) for k, v in clause.items())
            for clause in clauses
        )
    }
    assert got == want, f"clauses={clauses}"


# ---------------------------------------------------------------------------
# Connected components: random graphs vs a driver-side union-find oracle
# ---------------------------------------------------------------------------

def _union_find_labels(edges):
    """Reference labeling: min reachable id per node (plain union-find)."""
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


@pytest.mark.slow
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    edges=st.lists(
        st.tuples(
            # mix small ids (dense collisions, long chains) with
            # snowflake-scale ids (decimal-sum overflow territory)
            st.one_of(
                st.integers(min_value=0, max_value=12),
                st.integers(min_value=9_000_000_000_000_000_000 - 40,
                            max_value=9_000_000_000_000_000_000),
            ),
            st.integers(min_value=0, max_value=12),
        ),
        min_size=1,
        max_size=24,
    )
)
@pytest.mark.slow
def test_connected_components_matches_union_find(spark, edges):
    """The pointer-doubling label propagation must agree with plain
    union-find on arbitrary graphs — chains, cliques, self-loops,
    duplicate and reversed edges, huge ids (exercises the
    decimal(38,0) observed sums)."""
    from pgsync_spark.functions import dedup

    pairs = spark.createDataFrame(
        [(int(a), int(b)) for a, b in edges], "id1 long, id2 long"
    )
    got = {
        (r["id"], r["label"])
        for r in dedup.connected_components(pairs, max_rounds=21).collect()
    }
    want = set(_union_find_labels(edges).items())
    assert got == want, f"edges={edges}"


@settings(max_examples=150, deadline=None)
@given(
    email=st.emails(),
    phone=st.text(
        alphabet="0123456789-.() +", min_size=0, max_size=20
    ),
    value=st.one_of(
        st.integers(), st.text(min_size=1, max_size=30), st.booleans()
    ),
)
def test_masking_rules_never_leak(email, phone, value):
    """Pure-function invariants of the masking rules (ref:
    plugins/masking_plugin.py:44-70): a masked email leaks at most the
    first character of the local part (domain is display metadata), a
    masked phone leaks at most its last 4 digits, and hashing is a
    deterministic 16-hex one-way tag — for ANY input, not just the
    fixtures."""
    import re

    from pgsync_spark.plugin_examples import MaskingPlugin

    m = MaskingPlugin()
    masked = m.mask_email(email)
    local, domain = email.rsplit("@", 1)
    assert masked.endswith("@" + domain)
    # the exact-equality asserts fully specify the masked output — by
    # construction only the first local char / last 4 digits survive
    if len(local) > 1:
        assert masked == f"{local[0]}***@{domain}"
    else:
        assert masked == f"***@{domain}"

    mp = m.mask_phone(phone)
    digits = re.sub(r"\D", "", phone)
    if len(digits) >= 4:
        assert mp == f"***-***-{digits[-4:]}"
    else:
        assert mp == "***"

    h = m.hash_value(value)
    assert re.fullmatch(r"[0-9a-f]{16}", h)
    assert h == m.hash_value(value)  # deterministic
