"""Driver-visible NL-layer queries: the repair pipeline in the gate.

Each operator feeds a deliberately broken SQL string (the way real LLM
output breaks — fenced, aliased, typo'd, wrong-case literals) through
``nl.repair.repair_sql`` and executes the result on the TPC-H views;
the oracle is the SQL a correct LLM would have produced. A pass proves
the repair stage rewrites the break into exactly that statement —
putting R1/R2/R4/R5 behavior under the driver's differential hash, not
just pytest.
"""

from __future__ import annotations

from ..nl.repair import repair_sql
from ..sources.catalog import register_views
from .registry import ORACLES, query


def _run(spark, sf_dir, tables, broken, meta=None, synonym_map=None):
    views = register_views(spark, sf_dir, tables=tables)
    cols = {c for df in views.values() for c in df.columns}
    return spark.sql(repair_sql(broken, cols, meta=meta, synonym_map=synonym_map))


@query(
    "nl1_fence_extraction",
    # R1: the LLM wrapped its answer in a markdown fence
    oracle="""
    SELECT c_mktsegment, count(*) AS n FROM customer
    GROUP BY c_mktsegment
    """,
)
def nl1_fence_extraction(spark, sf_dir):
    """R1 end-to-end: fenced LLM output stripped then executed."""
    broken = (
        "```sql\n"
        "SELECT c_mktsegment, count(*) AS n FROM customer\n"
        "GROUP BY c_mktsegment\n"
        "```"
    )
    return _run(spark, sf_dir, ("customer",), broken)


@query(
    "nl2_fuzzy_identifier_repair",
    # R4: typo'd identifiers fuzzy-matched back to real columns
    # (difflib ratio >= 0.86: c_custky->c_custkey, c_acctbl->c_acctbal)
    oracle="""
    SELECT c_custkey, c_acctbal FROM customer
    WHERE c_acctbal > 9000
    """,
)
def nl2_fuzzy_identifier_repair(spark, sf_dir):
    """R4 end-to-end: typo'd identifiers fuzzy-repaired then executed."""
    broken = "SELECT c_custky, c_acctbl FROM customer WHERE c_acctbl > 9000"
    return _run(spark, sf_dir, ("customer",), broken)


@query(
    "nl3_alias_substitution",
    # R2: dictionary aliases rewritten to canonical columns (word-
    # bounded, only because the alias is NOT a real column)
    oracle="""
    SELECT l_orderkey, l_quantity FROM lineitem
    WHERE l_quantity > 45
    """,
)
def nl3_alias_substitution(spark, sf_dir):
    """R2 end-to-end: dictionary aliases mapped to canonical columns then executed."""
    broken = "SELECT l_orderkey, qty FROM lineitem WHERE qty > 45"
    synonym_map = {"qty": "l_quantity", "orderid": "l_orderkey"}
    return _run(spark, sf_dir, ("lineitem",), broken, synonym_map=synonym_map)


@query(
    "nl5_full_ask_lifecycle",
    # the end-to-end §3.1 lifecycle: question -> dictionary context ->
    # prompt -> (stub) LLM -> repair -> execute; the stub returns SQL
    # broken three ways (fence + alias + typo) and the oracle is what a
    # correct LLM+clean schema would have produced
    oracle="""
    SELECT l_returnflag, count(*) AS n, sum(l_quantity) AS total_qty
    FROM lineitem
    WHERE l_quantity > 30
    GROUP BY l_returnflag
    """,
)
def nl5_full_ask_lifecycle(spark, sf_dir):
    """Full ask pipeline: context, stub LLM, repair, execution (C1-C7+R1-R7)."""
    from ..nl.ask import answer_question
    from ..nl.llm import StubLLM

    register_views(spark, sf_dir, tables=("lineitem",))
    meta = {
        "columns": [
            {
                "name": "l_returnflag",
                "type": "VARCHAR",
                "description": "Return status flag.",
                "aliases": ["flag"],
                "importance": 8,
            },
            {
                "name": "l_quantity",
                "type": "DOUBLE",
                "description": "Quantity ordered.",
                "aliases": ["qty", "quantity"],
                "importance": 9,
            },
        ],
        "rules": [],
    }
    stub = StubLLM(
        default=(
            "```sql\n"
            "SELECT flag, count(*) AS n, sum(l_quantty) AS total_qty\n"
            "FROM lineitem WHERE qty > 30 GROUP BY flag\n"
            "```"
        )
    )
    result = answer_question(
        spark, "lineitem", "quantities over 30 by return flag", stub, meta=meta
    )
    return result.df


@query(
    "nl4_literal_canonicalization",
    # R5+R6: case rule lowercases the literal; map_values rewrites the
    # colloquial value — both before execution
    oracle="""
    SELECT count(*) AS n FROM customer
    WHERE c_mktsegment='BUILDING'
    """,
)
def nl4_literal_canonicalization(spark, sf_dir):
    """R5/R6 end-to-end: literal case/value canonicalization then executed."""
    broken = "SELECT count(*) AS n FROM customer WHERE c_mktsegment = 'bldg'"
    meta = {
        "columns": [
            {
                "name": "c_mktsegment",
                "canonicalization": {
                    "case": "upper",
                    "map_values": {"bldg": "BUILDING"},
                },
            }
        ]
    }
    return _run(spark, sf_dir, ("customer",), broken, meta=meta)


@query(
    "nl6_duckdb_dialect_passthrough",
    # The oracle IS the input: DuckDB runs the query verbatim while the
    # Spark side runs it through the dialect shim — so the comparison
    # certifies the translation itself, not a hand-matched re-write.
    oracle="""
    SELECT event_type,
           (props->>'k')::INTEGER // 10 AS k_decile,
           CAST(count(*) AS BIGINT) AS n
    FROM events
    WHERE regexp_matches(event_type, '^(click|view)$')
    GROUP BY ALL
    ORDER BY ALL
    """,
)
def nl6_duckdb_dialect_passthrough(spark, sf_dir):
    """DuckDB-dialect SQL executed on Spark via the dialect shim.

    A reference user's query — JSON arrows, ``//`` integer division,
    ``regexp_matches``, ``GROUP BY ALL`` — runs unmodified: the shim
    (``nl/dialect_shim.py``) rewrites only what Spark rejects and the
    oracle executes the original text. Reference parity: the reference
    passes user SQL straight to DuckDB (query_db.py:49); this operator
    is the switch-over path for that SQL.
    """
    from ..nl.dialect_shim import to_spark_sql

    register_views(spark, sf_dir, tables=("events",))
    duckdb_sql = ORACLES["nl6_duckdb_dialect_passthrough"]
    return spark.sql(to_spark_sql(duckdb_sql))
