"""Whole-row-pair multiply — Graphulo's RowMultiplyOp extension point.

RowMultiplyOp (rowmult/RowMultiplyOp.java:1-52) hands the UDF BOTH matched
rows of the shared dimension at once — full control over the pair, free to
emit 0..n entries — instead of one (a, b) cell pair at a time like MultiplyOp
(rowmult/MultiplyOp.java:14-58). Spark home: ``cogroup().applyInPandas`` —
each contraction key's (A-slice, B-slice) arrives as two pandas DataFrames in
one Arrow batch, the body is vectorized numpy (no per-row Python), and the
emitted partials finish through an ordinary groupBy ⊕.

Use ``spgemm`` (join + aggregate) for anything expressible as per-cell
⊗ then ⊕ — Catalyst fuses and map-side-combines it. This path exists for
semantics that genuinely need the whole matched-row pair (row-conditional
products, per-row normalization before multiply, RowStartMultiplyOp-style
gating on row content).

Scale shape: one shuffle of each table on the contraction key (cogroup),
partials pre-summed inside each Arrow batch, one shuffle of O(output) partial
rows into the final ⊕. A hub contraction key serializes its whole pair into
one task — same skew surface as Graphulo's row-at-a-time merge join; for
plain multiplication at scale prefer spgemm, whose join AQE can skew-split.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def table_mult_rowop(
    a: DataFrame,
    b: DataFrame,
    *,
    transpose_a: bool = True,
    row_fn: "Callable | None" = None,
    plus: str = "sum",
    drop_zeros: bool = True,
) -> DataFrame:
    """C(i,j) = ⊕_k row_fn(A(k,·), B(k,·)) — TableMult through the whole-row
    extension point. Defaults (row_fn=None) to the outer-product multiply,
    making it equality-testable against ``spgemm`` (done in tests).

    ``row_fn(ai, aw, bj, bw) -> (i_array, j_array, p_array)``: numpy arrays of
    one contraction key's A-slice (indices, weights) and B-slice; returns the
    emitted (i, j, partial) triples. The default emits the full cross of the
    two slices with p = aw_i · bw_j.
    """
    if transpose_a:
        at = a.select(F.col("src").alias("k"), F.col("dst").alias("i"), F.col("w").alias("wa"))
    else:
        at = a.select(F.col("dst").alias("k"), F.col("src").alias("i"), F.col("w").alias("wa"))
    bt = b.select(F.col("src").alias("k"), F.col("dst").alias("j"), F.col("w").alias("wb"))
    # vertex ids keep their input type (long hashes OR raw string keys — the
    # transitions graph uses event-type strings); the Arrow schema follows
    i_type = at.schema["i"].dataType.simpleString()
    j_type = bt.schema["j"].dataType.simpleString()

    def _pair(key, apdf, bpdf):
        import numpy as np
        import pandas as pd

        if len(apdf) == 0 or len(bpdf) == 0:
            return pd.DataFrame({"i": [], "j": [], "p": []})
        ai = apdf["i"].to_numpy()
        aw = apdf["wa"].to_numpy()
        bj = bpdf["j"].to_numpy()
        bw = bpdf["wb"].to_numpy()
        if row_fn is not None:
            ii, jj, pp = row_fn(ai, aw, bj, bw)
        else:
            # outer product of the matched rows, vectorized
            ii = np.repeat(ai, len(bj))
            jj = np.tile(bj, len(ai))
            pp = np.repeat(aw, len(bj)) * np.tile(bw, len(ai))
        out = pd.DataFrame({"i": ii, "j": jj, "p": pp})
        # partial ⊕ inside the Arrow batch (LruCacheIterator's pre-sum) —
        # MUST match the outer ⊕ or min/max would pre-combine wrongly
        return out.groupby(["i", "j"], as_index=False).agg(p=("p", plus))

    partial = (
        at.groupBy("k")
        .cogroup(bt.groupBy("k"))
        .applyInPandas(_pair, schema=f"i {i_type}, j {j_type}, p double")
    )
    agg = {"sum": F.sum, "min": F.min, "max": F.max}[plus]
    out = partial.groupBy(F.col("i").alias("src"), F.col("j").alias("dst")).agg(
        agg("p").alias("w")
    )
    if drop_zeros:
        out = out.filter(F.col("w") != 0.0)
    return out
