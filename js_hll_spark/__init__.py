"""js_hll_spark — a PySpark-native distributed sketch library.

Centerpiece: a mergeable HyperLogLog faithful to the AggregateKnowledge
hll-storage-spec v1.0.0 (reference: aggregateknowledge/js-hll), plus
count-min, KLL, t-digest and Bloom companions — all exposed as mergeable
aggregations over pyspark.sql DataFrames using Arrow-vectorized UDFs.
"""

from . import _worker
from .config import HLLConfig, alpha_m_squared
from .core.hll import HLL, intersection_cardinality

_worker.skip_unchanged_zip_rereads()

__all__ = ["HLL", "HLLConfig", "alpha_m_squared", "intersection_cardinality"]
__version__ = "0.1.0"
