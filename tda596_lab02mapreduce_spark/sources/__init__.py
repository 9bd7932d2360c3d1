from tda596_lab02mapreduce_spark.sources.files import (
    compact_parquet,
    read_csv,
    read_json,
    avro_available,
    read_avro,
    read_text_lines,
    read_whole_files,
    write_avro,
)

__all__ = [
    "compact_parquet",
    "read_csv",
    "read_json",
    "avro_available",
    "read_avro",
    "read_text_lines",
    "read_whole_files",
    "write_avro",
]
