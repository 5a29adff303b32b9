from .filters import filters_to_spark_sql, filters_to_sql  # noqa: F401
