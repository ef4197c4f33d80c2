"""Unit suite for the R1–R7 repair pipeline (SURVEY.md §5.2 invariants).

Pure functions — no Spark, no network. Invariants pinned:
- repairs are idempotent (applying twice == applying once)
- R4 never rewrites allowlisted keywords or valid column names
- R2 fires only when alias ∉ schema ∧ canonical ∈ schema
- R5/R6 preserve non-literal SQL text
"""

from __future__ import annotations

import pytest

from ask_duckdb_spark.nl.repair import (
    SQL_KEYWORDS,
    canonicalize_literals,
    ensure_readonly,
    extract_fenced_code,
    fix_common_mistakes,
    is_fenced,
    quote_ident,
    repair_sql,
)

COLS = {"queue", "status", "cloud", "country", "corecount", "copytools"}
SYN = {"name": "queue", "state": "status", "ncores": "corecount"}
META = {
    "columns": [
        {
            "name": "status",
            "canonicalization": {"case": "lower", "map_values": {"NULL": None}},
        },
        {
            "name": "cloud",
            "canonicalization": {"case": "upper", "map_values": {}},
        },
        {
            "name": "country",
            "canonicalization": {
                "case": "none",
                "map_values": {"american": "United States"},
            },
        },
    ]
}


# --- R1 fences ------------------------------------------------------------


def test_r1_detect_and_extract():
    raw = "```sql\nSELECT 1;\n```"
    assert is_fenced(raw)
    assert extract_fenced_code(raw) == "SELECT 1;"


def test_r1_first_block_wins():
    raw = "```sql\nSELECT 1;\n```\ntext\n```sql\nSELECT 2;\n```"
    assert extract_fenced_code(raw) == "SELECT 1;"


def test_r1_plain_text_passthrough():
    assert not is_fenced("SELECT 1")
    assert extract_fenced_code("SELECT 1") is None


# --- R2 alias substitution ------------------------------------------------


def test_r2_alias_rewritten():
    out = fix_common_mistakes("SELECT name FROM t WHERE state = 'x'", COLS, SYN)
    assert out == "SELECT queue FROM t WHERE status = 'x'"


def test_r2_skips_when_alias_is_real_column():
    cols = COLS | {"state"}  # alias IS a column -> leave it alone
    out = fix_common_mistakes("SELECT state FROM t", cols, SYN)
    assert out == "SELECT state FROM t"


def test_r2_case_insensitive_word_bounded():
    out = fix_common_mistakes("SELECT Name, username FROM t", COLS, SYN)
    # 'Name' rewritten (any case); 'username' NOT (word boundary)
    assert "queue" in out and "username" in out


# --- R3 ONLINE normalization ---------------------------------------------


def test_r3_online_any_case():
    out = fix_common_mistakes("WHERE status = 'ONLINE'", COLS, {})
    assert "='online'" in out


# --- R4 fuzzy identifier repair ------------------------------------------


def test_r4_typo_fixed():
    out = fix_common_mistakes("SELECT statu FROM t WHERE corecont > 2", COLS, {})
    assert "status" in out and "corecount" in out


def test_r4_never_touches_keywords_or_valid_columns():
    sql = "SELECT status FROM t WHERE status LIKE 'x' GROUP BY status"
    assert fix_common_mistakes(sql, COLS, {}) == sql


def test_r4_keyword_allowlist_is_reference_vocabulary():
    for kw in ("select", "ilike", "json_extract", "offset", "having"):
        assert kw in SQL_KEYWORDS


# --- R5 literal canonicalization -----------------------------------------


def test_r5_lower_rule_eq():
    out = canonicalize_literals("WHERE status = 'OnLine'", META)
    assert out == "WHERE status='online'"


def test_r5_lower_rule_inside_lower_call():
    out = canonicalize_literals("WHERE LOWER( status ) = 'BROKEROFF'", META)
    assert out == "WHERE LOWER(status)='brokeroff'"


def test_r5_upper_rule():
    assert canonicalize_literals("WHERE cloud = 'us'", META) == "WHERE cloud='US'"


def test_r5_untouched_without_case_rule():
    sql = "WHERE country = 'Germany'"
    assert canonicalize_literals(sql, META) == sql


# --- R6 map_values --------------------------------------------------------


def test_r6_global_case_insensitive_rewrite():
    out = canonicalize_literals("WHERE country = 'AMERICAN'", META)
    assert out == "WHERE country = 'United States'"


def test_r6_null_target_unquoted():
    out = canonicalize_literals("WHERE status = 'NULL'", META)
    # status case rule lowercases first ('null'), then map 'NULL' is
    # case-insensitive so it still fires -> literal NULL
    assert "NULL" in out and "'NULL'" not in out


# --- R7 quoting -----------------------------------------------------------


def test_r7_backtick_doubling():
    assert quote_ident("a`b") == "`a``b`"


# --- pipeline order + idempotence ----------------------------------------


def test_pipeline_full_dirty_statement():
    raw = "```sql\nSELECT name FROM queuedata WHERE LOWER(state) = 'ONLINE'\n```"
    out = repair_sql(raw, COLS, meta=META, synonym_map=SYN)
    assert out == "SELECT queue FROM queuedata WHERE LOWER(status) ='online'"


@pytest.mark.parametrize(
    "raw",
    [
        "SELECT name FROM t WHERE state = 'ONLINE'",
        "```sql\nSELECT statu FROM t\n```",
        "SELECT queue FROM t WHERE country='american' AND cloud='us'",
    ],
)
def test_pipeline_reaches_fixpoint(raw):
    """Repairs converge: the second application is a fixpoint.

    (Strict one-pass idempotence does not hold — R5 compacts the
    whitespace around ``=`` the first time it sees a canonical-case
    literal, exactly as the reference's regexes do.)
    """
    once = repair_sql(raw, COLS, meta=META, synonym_map=SYN)
    twice = repair_sql(once, COLS, meta=META, synonym_map=SYN)
    thrice = repair_sql(twice, COLS, meta=META, synonym_map=SYN)
    assert twice == thrice


# --- read-only gate -------------------------------------------------------


def test_readonly_allows_queries():
    for sql in ("SELECT 1", "  WITH x AS (SELECT 1) SELECT * FROM x",
                "EXPLAIN SELECT 1", "(SELECT 1)"):
        ensure_readonly(sql)


@pytest.mark.parametrize(
    "sql",
    ["DROP TABLE t", "INSERT INTO t VALUES (1)", "UPDATE t SET a=1",
     "DELETE FROM t", "CREATE TABLE t (a int)", "SET spark.x=1",
     # WITH-prefixed DML must not slip past the prefix gate
     "WITH x AS (SELECT 1) INSERT INTO t SELECT * FROM x",
     "WITH x AS (SELECT 1) DELETE FROM t WHERE a IN (SELECT * FROM x)",
     # static JVM method calls run arbitrary Java (System.exit, ...)
     "SELECT java_method('java.lang.System','setProperty','adbs.probe','x')",
     "SELECT reflect('java.lang.System', 'exit', 0)",
     "SELECT try_reflect('java.lang.System', 'exit', 0)",
     "select JAVA_METHOD /* c */ ('java.lang.System', 'exit', 0)",
     "SELECT `java_method`('java.lang.System', 'exit', 0)",
     "SELECT system.builtin.reflect('java.lang.System', 'exit', 0)",
     "SELECT `system`.`builtin`.`try_reflect`('java.lang.System', 'exit', 0)",
     "WITH x AS (SELECT 1) SELECT reflect('java.lang.System', 'exit', 0) FROM x",
     "EXPLAIN SELECT java_method('java.lang.System', 'exit', 0)",
     # a computed function name, and a shell command via script transform
     "SELECT IDENTIFIER('java_' || 'method')('java.lang.System', 'exit', 0)",
     "SELECT TRANSFORM(a) USING 'sh -c id' AS (b) FROM t",
     # quoting and comments as Spark's lexer reads them, so no phantom
     # literal can hide the call: escaped quote, double-quoted string,
     # quote in a backticked name, nested comment, raw string, CR
     r"SELECT '\'', java_method('java.lang.System', 'exit', 0)",
     "SELECT \"'\", java_method('java.lang.System', 'exit', 0), \"'\"",
     "SELECT 1 AS `x'`, java_method('java.lang.System', 'exit', 0) AS `'y`",
     "SELECT 1 /* /* */ ' */, java_method('java.lang.System', 'exit', 0) --'",
     r"SELECT r'\', java_method('java.lang.System', 'exit', 0) --'",
     "SELECT 1 -- x\r, java_method('java.lang.System', 'exit', 0)",
     # a backslash before LF continues a -- comment; /*+ inside a
     # comment opens no nested level; a raw string after USING
     "SELECT 1 -- \\\n'\n, java_method('java.lang.System', 'exit', 0) --'",
     "SELECT 1 /* /*+ */, java_method('java.lang.System', 'exit', 0)",
     "WITH x AS (SELECT 1) /* /*+ */ INSERT INTO t SELECT * FROM x",
     "SELECT TRANSFORM(a) USING r'sh -c id' AS (b) FROM t",
     'SELECT TRANSFORM(a) USING R"sh -c id" AS (b) FROM t',
     # hint arguments are expressions: the code scan reads them
     "SELECT /*+ REPARTITION(java_method('java.lang.System', 'exit', 0)) */ 1"],
)
def test_readonly_rejects_mutations(sql):
    with pytest.raises(ValueError):
        ensure_readonly(sql)


def test_readonly_allows_comment_prefix_and_literals():
    # leading comments are stripped before the prefix check; mutation
    # words inside string literals never trip the deep scan
    ensure_readonly("-- top customers\nSELECT c_name FROM customer")
    ensure_readonly("/* note */ SELECT 1")
    ensure_readonly("SELECT * FROM t WHERE note = 'please drop table x'")
    ensure_readonly("SELECT * FROM t WHERE v LIKE '%insert%'")
    ensure_readonly("SELECT * FROM t WHERE note = 'java_method(x)'")
    ensure_readonly("-- reflect(\nSELECT 1")
    ensure_readonly(r"SELECT * FROM t WHERE a = 'don\'t drop' AND b = \"a--b\"")
    ensure_readonly("SELECT 1 /* outer /* inner */ drop table t */")


def test_readonly_allows_select_with_replace_function():
    ensure_readonly("SELECT replace(c_name, 'a', 'b') FROM customer")
    ensure_readonly("SELECT 1 OFFSET 0")  # 'set' inside 'offset'
    # the code-execution scan matches calls and script USING, not names
    ensure_readonly("SELECT reflect, java_method, identifiers FROM t")
    ensure_readonly("SELECT my_reflect(a) FROM t")
    ensure_readonly("SELECT transform(arr, x -> x + 1) FROM t")
    ensure_readonly("SELECT * FROM a JOIN b USING (k)")
    # a hint name is not a mutation: MERGE is the sort-merge join hint
    ensure_readonly("SELECT /*+ MERGE(a) */ * FROM a JOIN b ON a.k = b.k")


@pytest.mark.parametrize(
    "sql",
    [
        # comment-opener INSIDE a literal must not eat the DML after it
        "WITH x AS (SELECT '--' AS c) INSERT INTO t SELECT 1",
        "WITH x AS (SELECT 'a/*' AS c) DELETE FROM t WHERE y = '*/'",
    ],
)
def test_readonly_comment_in_literal_cannot_smuggle_dml(sql):
    with pytest.raises(ValueError):
        ensure_readonly(sql)


def test_readonly_literal_then_comment_no_false_positive():
    ensure_readonly(
        "SELECT * FROM t WHERE a = 'x--1'\nAND note = 'drop me a line'"
    )


@pytest.mark.parametrize(
    "sql",
    [
        # a token merely BEGINNING with an allowed keyword is not a query
        "selectivity_foo",
        "selective update t set a=1",
        # 'explain'-prefixed identifiers must not skip the mutation scan
        "explainer drop table t",
        "showme secrets",
        # digit-suffixed lookalikes must capture WHOLE, not as the bare
        # keyword (regex [a-zA-Z_]* stopped at digits — review r3)
        "show1 delete from t",
        "explain2 drop table t",
        "describe9 insert into t values (1)",
    ],
)
def test_readonly_prefix_lookalikes_rejected(sql):
    """ADVICE r2: first-token comparison is equality, not startswith."""
    with pytest.raises(ValueError):
        ensure_readonly(sql)


def test_readonly_parenthesized_query_allowed():
    ensure_readonly("((SELECT 1))")
    ensure_readonly("( WITH x AS (SELECT 1) SELECT * FROM x )")


def test_readonly_show_create_table_allowed():
    # introspection statements may CONTAIN mutation words harmlessly
    ensure_readonly("SHOW CREATE TABLE t")
    ensure_readonly("DESCRIBE TABLE t")


def test_repair_survives_placeholder_injection():
    # \x01<digits>\x01 in the raw input must not crash the restore
    out = fix_common_mistakes("SELECT a\x015\x01b FROM t", COLS, {})
    assert isinstance(out, str)


def test_r1_fence_with_backtick_identifiers():
    raw = "```sql\nSELECT `c_name` FROM customer\n```"
    assert is_fenced(raw)
    assert extract_fenced_code(raw) == "SELECT `c_name` FROM customer"


def test_r2_r4_never_rewrite_inside_string_literals():
    cols = {"queue", "status", "c_acctbal"}
    syn = {"state": "status"}
    # alias word inside a literal stays; typo-like token inside a
    # literal stays; identifiers outside literals still repaired
    sql = "SELECT queue FROM t WHERE note LIKE '%state%' AND x = 'c_acctbl'"
    out = fix_common_mistakes(sql, cols, syn)
    assert "'%state%'" in out and "'c_acctbl'" in out
    out2 = fix_common_mistakes("SELECT state FROM t WHERE c_acctbl > 1", cols, syn)
    assert out2 == "SELECT status FROM t WHERE c_acctbal > 1"
