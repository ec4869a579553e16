"""Engine expression library: vector math and deterministic hashing.

Everything here is built from ``pyspark.sql.functions`` expressions —
JVM-side, zero Python UDFs. The higher-order-function folds are
CodegenFallback (interpreted per element), so the k-means assignment,
the hottest distance kernel, is numpy instead
(``operators.kmeans._nearest``).
"""

from mapreducekmean_spark.functions.vector import (
    argmin_index,
    as_double_array,
    cosine_sim,
    dot,
    l2_norm,
    sq_dist,
)
from mapreducekmean_spark.functions.hashing import md5_of, stable_order_key

__all__ = [
    "argmin_index",
    "as_double_array",
    "cosine_sim",
    "dot",
    "l2_norm",
    "md5_of",
    "sq_dist",
    "stable_order_key",
]
