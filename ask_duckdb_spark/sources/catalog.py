"""Table catalog over the Parquet fixture directories.

The reference's data model is "one relational table in a database file,
read-only" (reference: query_llm.py:441-446, query_db.py:63-68). Ours is
"N Parquet tables under a directory, registered as temp views" — same
observable model, columnar at rest, immutable by construction.

Scale notes (100 TB posture):
- ``spark.read.parquet`` gives vectorized scans, predicate pushdown and
  column pruning for free; at cluster scale the same loader works on a
  partitioned directory tree (``dt=.../part-*.parquet``) unchanged.
- The only per-table fixup (events.ts ns->us) is a zero-shuffle
  projection, fused into the scan stage by whole-stage codegen.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import apply_runtime_conf

#: All driver-materialized fixture tables (TESTDATA.md).
TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table, normalizing physical quirks.

    ``events.ts`` is INT64 TIMESTAMP(NANOS) in the footer; Spark reads
    it as long under ``nanosAsLong`` and we convert to TIMESTAMP_NTZ at
    microsecond precision (integer division — no float round-trip), the
    same naive-timestamp semantics DuckDB exposes.

    The resolved reader DataFrame is memoized per (session, dir, table):
    the data model is read-only/immutable (the reference opens its
    database read-only — query_llm.py:441-446 — and the fixtures never
    change), so the file listing + footer schema resolution need not be
    repeated on every query. This is catalog metadata caching — the
    same thing a warehouse catalog (or DuckDB's attached database) does
    — NOT data caching: no rows are persisted, every query still scans.
    The memo lives on the session object, so it dies with the session.
    """
    apply_runtime_conf(spark)
    cache: dict = spark.__dict__.setdefault("_adbs_table_cache", {})
    # "catalog:<prefix>" resolves <prefix><name> as a CATALOG table
    # instead of a parquet directory — the warehouse posture: lets any
    # registry operator run unchanged against managed (e.g. bucketed)
    # tables, which is how a 100 TB deployment actually stores facts
    # (scripts/joinblock_bucketed.py uses this to bench the TPC-H join
    # block on bucketed layout; write via sources/bucketing.py).
    if sf_dir.startswith("catalog:"):
        # NOT memoized: catalog tables are mutable (DROP/overwrite in
        # the same session — the bench/test pattern), so a cached
        # DataFrame would stay bound to the dropped table's file
        # index; spark.table() is a metastore lookup, not a directory
        # listing, so there is nothing expensive to memoize anyway.
        prefix = sf_dir[len("catalog:"):]
        return _events_fixup(spark.table(f"{prefix}{name}"), name)
    key = (os.path.abspath(sf_dir), name)
    hit = cache.get(key)
    if hit is not None:
        return hit
    df = _events_fixup(
        spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet")), name
    )
    cache[key] = df
    return df


def _events_fixup(df: DataFrame, name: str) -> DataFrame:
    """events.ts arrives INT64 TIMESTAMP(NANOS) (read as long under
    nanosAsLong): convert to microsecond TIMESTAMP_NTZ by integer
    division — one conversion shared by the parquet and catalog
    resolution paths."""
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn(
            "ts", F.expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)")
        )
    return df


def register_views(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    """Bind each fixture table to a temp view of its name; return the frames.

    The CLI calls this on every request, and ``createOrReplaceTempView``
    is an eagerly executed command (2-4 ms per view). So the session
    keeps an ownership record per view name: the DataFrame bound and
    the JVM temp-view relation that binding created. A name is skipped
    only when both still hold:

    - ``load_table`` returned the very same DataFrame (same session,
      same directory; ``catalog:`` sources are never memoized, so they
      re-resolve on every call);
    - the session catalog still holds the recorded relation for the
      name (one Py4J lookup, no command executed).

    That is exact: the view then maps to the plan a fresh registration
    would bind. Any view replaced or dropped since — by another
    directory, a test, a user or an operator — fails the second check
    and is registered again. The record lives on the session object,
    next to ``load_table``'s memo, so it dies with the session.
    """
    owned: dict = spark.__dict__.setdefault("_adbs_view_owner", {})
    jcatalog = spark._jsparkSession.sessionState().catalog()
    out: dict[str, DataFrame] = {}
    for name in tables:
        df = load_table(spark, sf_dir, name)
        rec = owned.get(name)
        if (
            rec is None
            or rec[0] is not df
            or not jcatalog.getRawTempView(name).contains(rec[1])
        ):
            df.createOrReplaceTempView(name)
            owned[name] = (df, jcatalog.getRawTempView(name).get())
        out[name] = df
    return out
