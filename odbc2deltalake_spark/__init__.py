"""odbc2deltalake_spark — a PySpark-native incremental CDC → SCD2 engine.

A from-scratch engine with the query and data-processing capabilities of
bmsuisse/odbc2deltalake (the reference), re-expressed Spark-first:

- DataFrame / Spark SQL declarative plans (Catalyst optimizes; no SQL
  string generation for local operations).
- A versioned Parquet table store (commit log + time travel + MERGE)
  standing in for Delta Lake, which is not a dependency.
- SCD2 history maintenance: full loads, incremental delta loads driven by
  a monotonic delta column, delete detection via key-set EXCEPT, "strange"
  (timestamp-inconsistent) update repair, and a `latest_pk_version`
  current-rows index — the algorithms described in SURVEY.md §3.

Reference behaviors are cited in docstrings as ``reference:<file>:<lines>``
(paths relative to the reference repo).
"""

from odbc2deltalake_spark.metadata import ColInfo, compat_name
from odbc2deltalake_spark.config import WriteConfig, WriteConfigAndInfos
from odbc2deltalake_spark.session import get_spark
from odbc2deltalake_spark.tablestore import (
    ChangeFeedTruncatedError,
    CommitConflictError,
    SchemaDriftError,
    VersionedParquetTable,
)
from odbc2deltalake_spark.sources import DataFrameSource, ParquetTableSource, Source
from odbc2deltalake_spark.plans import (
    DeltaDestination,
    check_delta_consistency,
    check_latest_pk,
    write_db_to_delta,
)
from odbc2deltalake_spark.plans.db_to_delta import make_writer, read_current_rows
from odbc2deltalake_spark.operators.corpus import prepare_training_corpus
from odbc2deltalake_spark.destinations import (
    AzureDestination,
    DatabricksDestination,
    S3Destination,
    parse_destination,
)

__version__ = "0.1.0"

__all__ = [
    "ColInfo",
    "compat_name",
    "WriteConfig",
    "WriteConfigAndInfos",
    "get_spark",
    "VersionedParquetTable",
    "CommitConflictError",
    "ChangeFeedTruncatedError",
    "SchemaDriftError",
    "Source",
    "DataFrameSource",
    "ParquetTableSource",
    "DeltaDestination",
    "write_db_to_delta",
    "make_writer",
    "read_current_rows",
    "check_latest_pk",
    "check_delta_consistency",
    "prepare_training_corpus",
    "AzureDestination",
    "DatabricksDestination",
    "S3Destination",
    "parse_destination",
]
