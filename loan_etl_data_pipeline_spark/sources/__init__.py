from loan_etl_data_pipeline_spark.sources.csv import read_csv, discover_input_files, resolve_input_files, write_csv
from loan_etl_data_pipeline_spark.sources.tables import load_table, TABLES
from loan_etl_data_pipeline_spark.sources.bucketed import write_bucketed, read_bucketed
from loan_etl_data_pipeline_spark.sources.layout import (
    compact_files,
    write_sorted,
    write_zordered,
    zorder_key,
)
from loan_etl_data_pipeline_spark.sources.landing import (
    GoogleDriveClient,
    LocalDirClient,
    land_new_files,
    list_all_files,
)
from loan_etl_data_pipeline_spark.sources.excel import excel_to_csv
from loan_etl_data_pipeline_spark.sources.jsonl import read_jsonl, write_jsonl

__all__ = [
    "read_csv", "write_csv", "discover_input_files", "resolve_input_files", "load_table", "TABLES",
    "write_bucketed", "read_bucketed", "write_sorted", "write_zordered",
    "zorder_key", "compact_files",
    "GoogleDriveClient", "LocalDirClient", "land_new_files", "list_all_files",
    "excel_to_csv", "read_jsonl", "write_jsonl",
]

from loan_etl_data_pipeline_spark.sources.evolution import read_parquet_evolving

__all__ += ["read_parquet_evolving"]

from loan_etl_data_pipeline_spark.sources.orc import read_orc, write_orc

__all__ += ["read_orc", "write_orc"]

from loan_etl_data_pipeline_spark.sources.versioned import (
    list_versions,
    prune_versions,
    read_version,
    write_version,
)

__all__ += ["list_versions", "prune_versions", "read_version", "write_version"]

from loan_etl_data_pipeline_spark.sources.versioned import version_manifests

__all__ += ["version_manifests"]

from loan_etl_data_pipeline_spark.sources.versioned import diff_versions

__all__ += ["diff_versions"]
