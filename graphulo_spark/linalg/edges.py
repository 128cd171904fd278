"""Edge-table constructors: canonicalization, symmetrization, degree tables.

Reference parity:
- degree table == Graphulo ``generateDegreeTable`` (Graphulo.java:3544-3601):
  per-row entry count (countColumns=true) or value sum.
- symmetrize == Graphulo's paired adjacency/transpose tables (A and AT kept in
  sync by RemoteWriteIterator.java:384-400); in Spark a union of the column
  swap, deduped/aggregated — no second physical table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def as_edges(df: DataFrame, src: str = "src", dst: str = "dst", w: str | None = "w") -> DataFrame:
    """Project an arbitrary DataFrame onto the edge convention [src, dst, w]."""
    cols = [F.col(src).cast("long").alias("src"), F.col(dst).cast("long").alias("dst")]
    if w is not None and w in df.columns:
        cols.append(F.col(w).cast("double").alias("w"))
    else:
        cols.append(F.lit(1.0).alias("w"))
    return df.select(*cols)


def canonicalize(edges: DataFrame, drop_self_loops: bool = True, combine: str = "sum") -> DataFrame:
    """Undirected canonical form: src < dst, duplicates combined.

    Equivalent to Graphulo's TriangularFilter(Upper) after symmetrization
    (skvi/TriangularFilter.java:14-82) plus the lazy plus-combiner on the
    result table (Graphulo.java:144-149) — here an eager groupBy aggregate,
    which Catalyst executes with map-side partial aggregation.
    """
    e = edges.select(
        F.least("src", "dst").alias("src"),
        F.greatest("src", "dst").alias("dst"),
        F.col("w"),
    )
    if drop_self_loops:
        e = e.filter(F.col("src") != F.col("dst"))
    agg = {"sum": F.sum, "min": F.min, "max": F.max, "count": lambda c: F.count(c).cast("double")}[combine]
    return e.groupBy("src", "dst").agg(agg("w").alias("w"))


def symmetrize(edges: DataFrame, combine: str = "sum") -> DataFrame:
    """A + A^T: both directions present once. Transpose is a column swap."""
    both = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
    )
    both = both.filter(F.col("src") != F.col("dst"))
    agg = {"sum": F.sum, "min": F.min, "max": F.max}[combine]
    return both.groupBy("src", "dst").agg(agg("w").alias("w"))


def degrees(edges: DataFrame, by: str = "src", weighted: bool = False) -> DataFrame:
    """Degree vector DataFrame[v, deg]. by='src' → out-degree, 'dst' → in-degree.

    Graphulo generateDegreeTable (Graphulo.java:3544-3601): countColumns=true
    maps to weighted=False, value-sum to weighted=True.
    """
    agg = F.sum("w") if weighted else F.count("*").cast("double")
    return edges.groupBy(F.col(by).alias("v")).agg(agg.alias("deg"))
