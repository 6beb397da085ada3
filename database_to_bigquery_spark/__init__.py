"""database_to_bigquery_spark — a PySpark-native analytics engine.

A brand-new engine with the query/data-processing capability surface of
the reference ETL pipeline ``yvettehalili/Database-to-BigQuery`` (a
config-driven, schema-enforced, incremental-or-full relational copy
pipeline; see SURVEY.md §0), re-expressed Spark-first and extended with
the relational core (joins/aggs/windows/set-ops), LLM-data-pipeline
operators (dedup, similarity search, text analysis, multimodal
columns), and Structured Streaming — every operator designed for a
multi-executor cluster at 100 TB scale, tested locally on small
scale factors.

Layout:
    session     SparkSession factory (AQE, Arrow, UTC, shuffle sizing)
    data        fixture table loader (parquet) + temp-view registration
    registry    QuerySpec registry backing __spark_entry__.py
    plans       declarative per-table ETL spec + pipeline runner (S1-S19)
    sources     parquet / JDBC-shaped sources, catalog allowlist (S1-S3)
    sinks       writer interface: parquet impl, BigQuery documented stub (S10-S14)
    functions   scalar/portable helpers (S4, S7, text metrics)
    operators   relational core (X1-X11), dedup (X12), similarity (X13),
                text analysis (X14), multimodal (X15), UDF surface (X17)
    streaming   Structured Streaming over events (X16)
"""

import sys

from pyspark import cloudpickle

__version__ = "0.1.0"

# Module-level helpers of every submodule run inside Python workers
# (pandas UDFs, mapInPandas, applyInPandas). Pickling the package by
# value ships them with the task, so a worker never imports the
# package, which fails when the Spark application starts from a
# directory outside the repository. cloudpickle matches submodules by
# their parent's name, so this one registration covers them all.
cloudpickle.register_pickle_by_value(sys.modules[__name__])
