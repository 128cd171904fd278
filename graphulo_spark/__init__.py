"""graphulo_spark — a from-scratch PySpark-native link-graph analytics engine.

Re-creates the query/data-processing capabilities of Graphulo (MIT-LL's
GraphBLAS-style sparse-matrix library for Accumulo, studied read-only at
/root/reference — see SURVEY.md) as idiomatic Spark DataFrame plans:

- ``linalg``      — GraphBLAS primitive equivalents (SpMV, SpGEMM, element-wise
                    ops, filters, degree tables, top-k-per-row) as declarative
                    DataFrame plans Catalyst can optimize.
- ``algorithms``  — PageRank, connected components, label propagation,
                    triangle count, Jaccard, k-truss, BFS: superstep loops with
                    per-superstep checkpoints and convergence tests.
- ``transcripts`` — deterministic synthetic conversation-transcript generator
                    (conv_id, turn_idx, role, text, tool, ts) and the
                    transcript → edge-table induction.
- ``pipeline``    — large-scale training-data ops: dedup (exact / MinHash-LSH /
                    n-gram Jaccard / SimHash), ANN similarity search, text
                    quality / language-ID / token stats.

Everything here derives from public knowledge only: the Apache Spark API and
the reference repo's observable behavior (file:line citations in docstrings).
"""

__version__ = "0.1.0"
