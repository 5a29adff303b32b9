from .jsonl import write_jsonl  # noqa: F401
from .search import build_index_mapping  # noqa: F401
