"""pgsync_spark — a PySpark-native denormalization / sync engine.

Re-expresses the capabilities of toluaina/pgsync (relational →
nested-document denormalization with incremental CDC maintenance) as
idiomatic Spark DataFrame plans, plus large-scale training-data
pipeline operators (dedup, similarity search, text analysis,
multimodal plumbing).
"""

from .catalog import Catalog, TableMeta, TPCH_TABLES  # noqa: F401
from .config import config_loader  # noqa: F401
from .node import Node, Tree, parse_tree  # noqa: F401
from .plans.sqlgen import compile_assembled  # noqa: F401
from .session import get_spark  # noqa: F401

__version__ = "0.1.0"
