"""engine_spark — a PySpark-native analytics engine.

A from-scratch rebuild of the query & data-processing capabilities of
eventflux-io/engine (a single-process Rust streaming CEP engine), re-expressed
on Apache Spark: DataFrame/SQL for relational operators, Structured Streaming
for the streaming path, and Pandas-UDF-backed stateful operators only where
Spark's built-ins genuinely can't express the semantics (CEP pattern NFA,
count-based windows).

Layout (every module listed ships in this tree):
    session     — tuned SparkSession builder (AQE, Arrow, nanos parquet)
    catalog     — named-table registry over parquet dirs (testdata layout)
    functions   — EventFlux scalar-function registry → pyspark.sql.functions
    operators   — windows, joins, aggregations, output_rate,
                  triggers (cron windows + tick streams)
    sources     — source/sink registry + json/csv/bytes mappers, WITH(...)
    plans       — EventFlux-SQL dialect parser + DataFrame compiler (SqlApp),
                  including the batch CEP pattern chain
    streaming   — AppRunner-style harness, streaming windows, per-key NFA
    tables      — Table DML (insert/update/delete/upsert), on-demand
                  queries, incremental multi-granularity aggregation
    extensions  — UDF/UDAF/window/plugin/script registration surface
    datapipe    — large-scale training-data ops: dedup, similarity, text,
                  multimodal (not in the reference; first-class here)
    queries     — the registry of oracle-checked queries (driver contract)

Entry points: ``plans.SqlApp`` (SQL), the operator modules (DataFrame API),
``run_app.py`` at the repo root (CLI), ``__spark_entry__.py`` (driver).
"""

__version__ = "0.1.0"

from engine_spark.session import get_spark  # noqa: F401
from engine_spark.catalog import Catalog  # noqa: F401
