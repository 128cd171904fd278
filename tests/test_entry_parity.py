"""Local mirror of the driver's correctness gate: run every queries() entry on
Spark AND its oracle_sql() on DuckDB at sf0.01; compare row count, sorted
column names, and the order-insensitive multiset of row values."""

from __future__ import annotations

import math
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as contract  # noqa: E402

SF = os.environ.get("SPARK_GRAFT_PARITY_SF", "/root/testdata/sf0.01")
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")
    yield con


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        # driver-style value normalization: collapse -0.0/0.0 and format stably
        if v == 0:
            return "0"
        return f"{v:.10g}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def _rowset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(_norm(r[i]) for i in order) for r in rows)


QUERIES = contract.queries()
ORACLES = contract.oracle_sql()


# iterative/fixpoint ops the contract allows to ship without an oracle
# (driver records a weaker rows-only check for these). Empty since round 2:
# ktruss_3 gained a bounded-unroll CTE oracle.
ROWS_ONLY: set[str] = set()


def test_every_query_has_oracle_or_is_flagged():
    missing = set(QUERIES) - set(ORACLES) - ROWS_ONLY
    assert missing == set(), f"queries without oracle SQL: {missing}"


# Queries that MUST sit inside the driver's 50-entry check window. Everything
# past position 50 is invisible to the correctness harness, so only entries
# that remain fully checked without a driver row may live there: parity
# variants (pytest-pinned equal to a sibling that keeps its driver row) or
# golden-pinned rotations (same kernel as a driver-checked sibling, exact
# unit golden of their own — e.g. degree_table_weighted). (ADVICE r5: the
# invariant is 'variants or golden-pinned rotations', not equality-variants
# only.)
DRIVER_WINDOW = 50
PARITY_VARIANTS = {
    "spgemm_rowop",            # == spgemm_tablemult
    "single_bfs_2hop",         # == adj_bfs_2hop
    "ktruss_edge_3",           # == ktruss_3
    "triangle_count_adjedge",  # == triangle_count
}


def test_driver_window_holds_every_unique_query():
    """The driver checks only the first DRIVER_WINDOW entries of queries().
    Inserting a new query in the wrong place silently evicts a green row
    (this killed the embedding family's rows in rounds 3-4) — pin the
    discipline: everything beyond the window must be a known parity variant,
    and every non-variant (especially the five embedding/similarity queries)
    must be inside it."""
    names = list(QUERIES)
    beyond = set(names[DRIVER_WINDOW:])
    assert beyond <= PARITY_VARIANTS, (
        f"non-parity queries pushed past the driver's {DRIVER_WINDOW}-row "
        f"window: {sorted(beyond - PARITY_VARIANTS)} — insert new queries "
        f"ABOVE the parity-variant block in entry.py"
    )
    checked = set(names[:DRIVER_WINDOW])
    for must in ("cosine_topk", "ann_candidates", "embedding_near_dup",
                 "ivf_topk", "bray_curtis"):
        assert must in checked, f"{must} fell outside the driver window"


def test_parity_block_citations_exist():
    """The parity-block comment in entry.py is the window-rotation
    instruction manual — every tests/<file>.py it cites must exist
    (VERDICT r5 #6: the r5 comment pointed at three nonexistent files)."""
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    entry_src = open(os.path.join(here, "..", "graphulo_spark", "entry.py")).read()
    cited = set(re.findall(r"tests/(\w+\.py)", entry_src))
    assert cited, "no test citations found in entry.py"
    missing = [f for f in cited if not os.path.exists(os.path.join(here, f))]
    assert missing == [], f"entry.py cites nonexistent test files: {missing}"


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_parity(spark, duck, name):
    if name in ROWS_ONLY:
        assert QUERIES[name](spark, SF).count() >= 0  # rows-only smoke
        return
    sdf = QUERIES[name](spark, SF)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]

    res = duck.execute(ORACLES[name])
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()

    assert sorted(scols) == sorted(dcols), f"{name}: column names differ"
    assert len(srows) == len(drows), f"{name}: row count {len(srows)} vs {len(drows)}"
    sset, dset = _rowset(scols, srows), _rowset(dcols, drows)
    mismatches = [(a, b) for a, b in zip(sset, dset) if a != b][:5]
    assert sset == dset, f"{name}: value mismatch, first diffs {mismatches}"


def test_entry_smoke(spark):
    df = contract.entry(spark)
    rows = df.collect()
    assert 0 < len(rows) <= 20
    assert df.columns == ["partkey", "p_name", "rank"]
    assert rows[0]["rank"] >= rows[-1]["rank"]
