"""iceberg_twist_spark — a PySpark-native analytics engine.

A from-scratch re-expression of the query and data-processing
capabilities of the reference repo ``jthetzel/iceberg-twist`` (framed
binary-telemetry ingest → decode → filter/project/downsample/enrich →
bounded-queue forwarding), generalized into a full relational +
streaming operator surface over parquet/Iceberg tables, plus
LLM-data-pipeline operators (dedup, similarity search, multimodal
columns, text analysis).

Architecture is Spark-first: every operator is declared through the
DataFrame / SQL API so Catalyst + Tungsten pick the physical strategy
(predicate pushdown, column pruning, broadcast vs sort-merge joins,
partial aggregation, whole-stage codegen, AQE). Python executes only
inside Arrow-batched pandas UDFs where built-ins genuinely cannot
express the semantics (fixed-layout binary decode, stateful streaming
queues).

Package layout:
    session     SparkSession builder tuned for scale (AQE, Arrow).
    catalog     testdata table loading / temp-view registration.
    registry    the query registry backing __spark_entry__.py.
    operators/  relational operators (scans, filters, joins, aggs,
                windows, sorts, set ops, as-of join).
    functions/  scalar-function suites (string, date, math, array,
                map/json, binary/bit).
    ingest/     binary-telemetry framing + fixed-layout decode
                (the reference's literal surface).
    streaming/  Structured Streaming ports (windows, watermark,
                dedup, stateful bounded queue w/ TTL + metrics).
    llm/        LLM-data-pipeline operators (dedup family,
                similarity search, text analysis, multimodal).

Importing the package in a PySpark Python worker (every engine UDF
imports an engine module when it is unpickled) installs
``session.skip_unchanged_zip_rereads``, so each later task in that
worker skips re-reading zip archives that have not changed.
"""

from iceberg_twist_spark.registry import REGISTRY, QuerySpec, all_oracles, all_queries
from iceberg_twist_spark.session import skip_unchanged_zip_rereads

skip_unchanged_zip_rereads()

__version__ = "0.1.0"

__all__ = ["REGISTRY", "QuerySpec", "all_queries", "all_oracles", "__version__"]
