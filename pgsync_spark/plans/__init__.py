from .oracle import oracle_doc_sql  # noqa: F401
