"""Every registered query with an oracle twin must match it exactly —
the local replica of the driver's t2 correctness gate."""

import os
import re

import pytest

from distributed_deduplicator_spark import queries as Q
from tests.oracle import compare


def _cases():
    return sorted(Q.ORACLE_SQL.keys())


@pytest.mark.parametrize("name", _cases())
def test_query_matches_oracle(spark, sf_dir, name):
    df = Q.QUERIES[name](spark, sf_dir)
    compare(spark, sf_dir, df, Q.ORACLE_SQL[name])


def test_every_query_is_registered():
    # every oracle has a query; queries without oracle are allowed
    assert set(Q.ORACLE_SQL) <= set(Q.QUERIES)
    assert len(Q.QUERIES) >= 1


def test_readme_rows_only_table_matches_registry():
    """README's rows-only table lists exactly the registered queries
    without an oracle, and its counts match the registry."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "README.md")) as f:
        text = f.read()
    sec = text[text.index("## The rows-only contract"):]
    sec = sec[:sec.index("\n## ", 1)]
    names = set()
    for line in sec.splitlines():
        if line.startswith("| `"):
            names |= set(re.findall(r"`([^`]+)`", line.split("|")[1]))
    rows_only = set(Q.QUERIES) - set(Q.ORACLE_SQL)
    assert names == rows_only
    assert f"(the {len(rows_only)} queries with no SQL oracle)" in sec
    assert (f"{len(Q.ORACLE_SQL)} of {len(Q.QUERIES)} registered queries"
            in sec)
