from .formats import (
    broadcast_dim,
    explode_nested,
    parse_template_text,
    read_json,
    read_tsv,
)
from .tables import (
    TABLES,
    load_events_lookback,
    load_table,
    load_tables,
    lookback_cutoff_micros,
    max_ts_micros,
    read_parquet,
    register_views,
)

__all__ = [
    "TABLES",
    "broadcast_dim",
    "explode_nested",
    "load_events_lookback",
    "load_table",
    "load_tables",
    "lookback_cutoff_micros",
    "max_ts_micros",
    "parse_template_text",
    "read_json",
    "read_parquet",
    "read_tsv",
    "register_views",
]
