"""gmall_flink_0526_spark — a PySpark-native analytics engine.

A brand-new, idiomatic PySpark (DataFrame / Spark SQL / Structured
Streaming) engine providing the query and data-processing capabilities
of the reference project ``xt1248/gmall-flink-0526`` (a Flink-based
layered streaming e-commerce warehouse), re-expressed Spark-first:

- declarative logical plans via the DataFrame/SQL API (Catalyst picks
  the physical strategy: broadcast joins, pushdown, codegen, AQE),
- Structured Streaming for the streaming pipelines (watermarks,
  stream-stream interval joins, ``applyInPandasWithState`` for the
  genuinely custom stateful operators),
- plus a set of large-scale training-data-pipeline operators
  (dedup, similarity search, text analysis, multimodal plumbing).

Layout:
    session.py     SparkSession factory (AQE on, UTC, Arrow)
    schemas.py     canonical StructTypes (behavior log, CDC envelope, beans)
    operators/     pure DataFrame -> DataFrame ops, one module per family
    sources/       channel registry (file/memory/kafka/rate) + CDC fixtures
    functions/     scalar/expr helpers (portable hashing, tokenizer, time)
    plans/         the query catalog consumed by __spark_entry__.py
    streaming/     streaming pipelines + stateful operators

Importing the package first installs :mod:`._zipimport_cache`, which
spares every later Python task on a Spark worker the re-read of each
zip archive on its path.
"""

from . import _zipimport_cache  # noqa: F401  (installs on import)

__version__ = "0.1.0"
