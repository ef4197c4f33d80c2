"""Shared fixtures: one tuned SparkSession per test run (JVM startup is
~10 s — reuse it), the smallest fixture dir, and the queuedata table."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.001"
SF_DIR_001 = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from ask_duckdb_spark.session import get_spark

    spark = get_spark("tests")
    yield spark


@pytest.fixture(scope="session")
def queuedata(spark):
    """Synthetic queuedata view + its dictionary (FIXTURES.md §2)."""
    from ask_duckdb_spark.sources.queuedata_fixture import (
        queuedata_df,
        queuedata_dictionary,
    )

    df = queuedata_df(spark)
    df.createOrReplaceTempView("queuedata")
    return df, queuedata_dictionary()


def union_find_labels(pairs) -> dict[int, int]:
    """{vertex: min vertex id of its component} over undirected
    ``(a, b)`` pairs by sequential union-find — the reference every
    connected-components result in the suite is checked against."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}
