from weather_stream_processor_spark.sources.io import (
    read_csv,
    read_jsonl,
    read_orc,
    write_csv,
    write_jsonl,
    write_orc,
    write_partitioned_parquet,
)
from weather_stream_processor_spark.sources.tables import (
    TABLES,
    ensure_session_defaults,
    load_table,
    load_tables,
    parquet_schema,
    spread,
)

__all__ = [
    "TABLES",
    "ensure_session_defaults",
    "load_table",
    "load_tables",
    "parquet_schema",
    "read_csv",
    "read_jsonl",
    "read_orc",
    "spread",
    "write_csv",
    "write_jsonl",
    "write_orc",
    "write_partitioned_parquet",
]
