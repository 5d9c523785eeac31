from .loader import (
    Catalog,
    epoch_ms_expr,
    load_table,
    load_table_window,
    normalize_event_time,
    read_parquet,
    register_all,
    stream_event_time,
    stream_source,
)
from .schemas import DOMAIN_SCHEMAS, TESTDATA_TABLES
from .sinks import (
    day_col,
    write_bucketed,
    write_compacted_log,
    write_table,
    write_partitioned,
)

__all__ = [
    "Catalog",
    "DOMAIN_SCHEMAS",
    "TESTDATA_TABLES",
    "day_col",
    "epoch_ms_expr",
    "load_table",
    "load_table_window",
    "normalize_event_time",
    "read_parquet",
    "register_all",
    "stream_event_time",
    "stream_source",
    "write_bucketed",
    "write_compacted_log",
    "write_table",
    "write_partitioned",
]
