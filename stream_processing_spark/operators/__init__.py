from stream_processing_spark.operators.transforms import (  # noqa: F401
    count_by,
    filter_eq,
    filter_pattern,
    flat_map,
    select_columns,
)
