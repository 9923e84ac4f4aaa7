from .registry import (  # noqa: F401
    TABLE_DTYPES,
    TABLES,
    collect_table_stats,
    load_source,
    load_table,
    register_all,
    stats_informed_join,
    table_path,
    write_sink,
)
