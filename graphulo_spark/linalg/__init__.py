"""GraphBLAS-primitive equivalents as declarative DataFrame plans.

Edge-table convention everywhere: ``DataFrame[src: long, dst: long, w: double]``
(the sparse-matrix nonzero A(src,dst)=w; Graphulo's adjacency-table schema,
reference Graphulo.java:1014 AdjBFS javadoc). Vector convention:
``DataFrame[v: long, x: double]``.

Graphulo keeps an explicitly materialized transpose table AT because Accumulo
can only seek by row (reference Graphulo.java:296-314). Spark needs no such
thing: transpose is a column swap, and the shuffle that follows replaces the
physical second table.
"""

from graphulo_spark.linalg.edges import (
    as_edges,
    canonicalize,
    degrees,
    symmetrize,
)
from graphulo_spark.linalg.ewise import ewise_mult, ewise_sum, table_diff, row_selector
from graphulo_spark.linalg.filters import (
    bernoulli_sample,
    stratified_sample,
    minmax_filter,
    row_degree_filter,
    triangular_filter,
)
from graphulo_spark.linalg.spgemm import spgemm
from graphulo_spark.linalg.spmv import spmv
from graphulo_spark.linalg.topk import top_k_per_row

__all__ = [
    "as_edges",
    "canonicalize",
    "degrees",
    "symmetrize",
    "ewise_mult",
    "ewise_sum",
    "table_diff",
    "row_selector",
    "bernoulli_sample",
    "stratified_sample",
    "minmax_filter",
    "row_degree_filter",
    "triangular_filter",
    "spgemm",
    "spmv",
    "top_k_per_row",
]
