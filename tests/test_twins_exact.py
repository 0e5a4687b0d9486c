"""Bit-exactness of the iterative twins against their DuckDB oracles.

``scripts/check_entry.py`` compares floats to 10 significant digits, so
it cannot see a last-ulp drift in a fixed-iteration PageRank, PPR or
HITS score. This test runs the five iterative twins of
``__spark_entry__.queries()`` on the sf0.001 data set and requires every
value to equal its ``oracle_sql()`` counterpart under ``repr``: the same
double, not a close one. The DuckDB views are the ones check_entry.py
creates.
"""

from __future__ import annotations

import os

import pytest

duckdb = pytest.importorskip("duckdb")

import __spark_entry__ as E  # noqa: E402
from scripts.check_entry import TABLES  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"
TWINS = ["pagerank_top20", "ppr_top20", "hits_scores", "coreness", "lpa_communities"]

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason=f"{SF_DIR} not present"
)


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()


def _exact_rows(cols, rows):
    """Rows as sorted tuples of ``repr`` strings, columns in name order."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(repr(r[i]) for i in order) for r in rows)


@pytest.mark.parametrize("name", TWINS)
def test_twin_is_bit_exact(spark, duck, name):
    df = E.queries()[name](spark, SF_DIR)
    cols = [c.lower() for c in df.columns]
    got = _exact_rows(cols, [tuple(r) for r in df.collect()])
    res = duck.execute(E.oracle_sql()[name])
    ocols = [d[0].lower() for d in res.description]
    want = _exact_rows(ocols, res.fetchall())
    assert sorted(cols) == sorted(ocols)
    assert got, name
    assert got == want, [(a, b) for a, b in zip(got, want) if a != b][:3]
