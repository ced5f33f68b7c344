"""PySpark-native analytics engine with the query & data-processing
capabilities of the reference ETL pipeline
(CloudEngineerMike/aws-healthcare-etl-pipeline), re-expressed Spark-first.

The reference is an event-driven serverless CSV->Parquet pipeline
(S3 + EventBridge + Lambda + Glue + Crawler + Athena; see
/root/reference/health-etl/glue_job_script.py and main.tf). This package
replaces that fabric with idiomatic PySpark:

- ``sources``   : CSV ingest (schema-infer + explicit), partitioned parquet
                  sink, catalog registration (the Glue-crawler replacement).
- ``functions`` : column-level helpers (vector math, text normalization)
                  built from pyspark.sql.functions — JVM-side, codegen'd.
- ``operators`` : composed relational & LLM-data-pipeline operators
                  (as-of join, top-k, dedup family, similarity search,
                  text analysis, multimodal plumbing).
- ``plans``     : the named query registry the driver harness executes;
                  each query ships a DuckDB oracle SQL string.
- ``streaming`` : Structured Streaming ingest + event-time windows
                  (the EventBridge/Lambda trigger replacement).

Design stance (100 TB): declare logical plans with DataFrame/SQL and let
Catalyst/AQE choose physical strategy; broadcast small dims; keep
expressions inside whole-stage codegen; Pandas UDFs only where built-ins
cannot express the semantics.

Python workers may start from a cwd where this package is not
importable, so the package and its submodules are pickled BY VALUE:
a ``mapInPandas`` closure may call any module-level function here
(e.g. ``operators.multimodal.decode_image``) and the worker receives
its code, not an import by name.
"""

import sys

from pyspark import cloudpickle

__version__ = "0.1.0"

cloudpickle.register_pickle_by_value(sys.modules[__name__])
