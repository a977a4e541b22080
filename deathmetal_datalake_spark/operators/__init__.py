from deathmetal_datalake_spark.operators.columns import normalize_column_names
from deathmetal_datalake_spark.operators.cleaning import (
    clean_none_rows,
    drop_embedded_header_rows,
    extract_first_year,
    lenient_cast,
    pipe_to_comma,
    strict_cast,
    validate_columns,
)
from deathmetal_datalake_spark.operators.topk import top_n_per_group

__all__ = [
    "normalize_column_names",
    "clean_none_rows",
    "drop_embedded_header_rows",
    "extract_first_year",
    "lenient_cast",
    "pipe_to_comma",
    "strict_cast",
    "validate_columns",
    "top_n_per_group",
]
