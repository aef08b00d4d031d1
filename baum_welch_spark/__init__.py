"""baum_welch_spark — a PySpark-native analytics engine.

Re-expresses the capabilities of the MAHOUT-627 distributed Baum-Welch
reference (an iterative Hadoop MapReduce EM job) as idiomatic Spark
DataFrame / Catalyst operations, plus the large-scale training-data
pipeline operators (dedup, similarity search, text analysis, multimodal
plumbing) a modern 100 TB corpus engine needs.

Layout:
  hmm/        model dataclass, NumPy DP kernel, distributed EM fit, decode
  operators/  sequences builder, dedup, similarity, text, relational
  sources/    schema-pinned parquet IO
  functions/  reusable column expressions
  streaming/  structured-streaming sessionization & scoring
"""

from baum_welch_spark import _zipcache

_zipcache.install()

__version__ = "0.1.0"
