from .files import (
    read_csv,
    read_json,
    read_orc,
    read_parquet,
    write_orc,
    write_parquet,
)
from .ingest import (
    apply_stand_in_columns,
    frame_from,
    from_csv,
    from_json_records,
    parse_csv,
    parse_header_pairs,
    parse_json_records,
    rows_to_csv,
    rows_to_json,
)

__all__ = [
    "read_csv",
    "read_json",
    "read_parquet",
    "write_parquet",
    "apply_stand_in_columns",
    "frame_from",
    "from_csv",
    "from_json_records",
    "parse_csv",
    "parse_header_pairs",
    "parse_json_records",
    "rows_to_csv",
    "rows_to_json",
]
