"""lightsaber_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of lsds/LightSaber (+Scabbard).

The reference (/root/reference) is a single-node C++ stream engine that
JIT-compiles fused window-aggregation kernels (SURVEY.md). This package
re-expresses that capability surface Spark-first: queries call the
operator functions below directly on DataFrames, and Catalyst + Tungsten
replace OperatorKernel/OperatorJit.

- ``lightsaber_spark.operators`` — windowed aggregation (tumbling /
  sliding / session / count-based, pane-optimized), gap fill, theta &
  as-of joins, top-k post-window ops.
- ``lightsaber_spark.functions`` — beyond-parity large-scale pipeline
  ops: dedup (exact / minhash-LSH / simhash / n-gram Jaccard),
  similarity search, text analysis, multimodal column plumbing.
- ``lightsaber_spark.streaming`` — the same plans over Structured
  Streaming (watermarks, availableNow, stateful count windows).
"""

from lightsaber_spark.session import get_spark

__all__ = ["get_spark"]
__version__ = "0.1.0"
