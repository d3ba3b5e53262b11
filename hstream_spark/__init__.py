"""hstream_spark — a PySpark-native streaming analytics engine.

A brand-new engine with the query and data-processing capabilities of
hstreamdb/hstream (streams, continuous SQL queries, materialized views,
windowed aggregation, interval joins, connectors), re-expressed on
Apache Spark: DataFrame/SQL for the relational layer, Catalyst for
optimization, Structured Streaming for continuous queries, plus the
large-scale training-data-pipeline operators (dedup, similarity search,
text analysis, multimodal plumbing) the reference lacks.

Design stance (scale-first):
- Declarative plans only — every operator builds a DataFrame expression
  tree so Catalyst gets predicate pushdown / column pruning / join
  selection for free.
- JVM-side expressions (`pyspark.sql.functions`) in every hot path;
  Arrow-batched ``mapInPandas`` only where built-ins cannot express the
  work (multimodal byte features, the ``*_np`` numpy similarity
  kernels); no row-at-a-time Python UDFs.
- Shuffle discipline: broadcast joins for dimension tables, map-side
  partial aggregation, explicit repartitioning knobs on the wide ops
  (LSH dedup, ANN search) so plans survive 100 TB / 1000 executors.
"""

from hstream_spark.session import get_spark

__all__ = ["get_spark"]
__version__ = "0.1.0"
