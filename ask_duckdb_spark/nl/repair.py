"""SQL-text auto-repair pipeline (R1–R7) + engine-driven retry loop.

These are the reference's genuinely original operators (SURVEY.md §2.7)
— pure string→string functions applied to LLM-generated SQL *before*
the engine parses it. Behavioral parity targets (reference file:line):

- R1 fence extraction        query_llm.py:46-54
- R2 alias→canonical rewrite query_llm.py:242-246 (map: :269-286)
- R3 'ONLINE' normalization  query_llm.py:248-249
- R4 fuzzy identifier repair query_llm.py:251-263 (allowlist :253-257)
- R5 literal canonicalization query_llm.py:289-332
- R6 map_values rewrite      query_llm.py:334-341 (deliberately global)
- R7 identifier quoting      query_llm.py:41-43 (Spark: backticks)

Pipeline order is fixed (query_llm.py:491-501): fences → strip →
canonicalize literals (R5+R6, metadata-driven) → schema-aware repairs
(R2+R3+R4). On top of the reference's one-shot pipeline we add
:func:`execute_with_repair`, a Catalyst-error-driven retry: parse/
analysis failures trigger the repair pass, then one re-execution.
"""

from __future__ import annotations

import difflib
import re
from typing import Any

__all__ = [
    "is_fenced",
    "extract_fenced_code",
    "quote_ident",
    "canonicalize_literals",
    "fix_common_mistakes",
    "repair_sql",
    "execute_with_repair",
    "ensure_readonly",
    "SQL_KEYWORDS",
]

#: The repair allowlist: tokens the fuzzy pass must never rewrite.
#: Same 31-token vocabulary as the reference (query_llm.py:253-257) —
#: it defines the SQL dialect surface the tool expects — plus Spark's
#: JSON accessor so R4 never "repairs" it into a column name.
SQL_KEYWORDS: frozenset[str] = frozenset(
    {
        "select", "from", "where", "and", "or", "not", "in", "as", "on",
        "join", "left", "right", "inner", "outer", "group", "by", "order",
        "limit", "offset", "having", "distinct", "like", "ilike", "lower",
        "upper", "count", "sum", "avg", "min", "max", "json", "json_extract",
        "get_json_object",
    }
)

_FENCE_EXTRACT_RE = re.compile(r"```(.*?)\n(?P<code>.*?)\n```", re.DOTALL)
_IDENT_RE = re.compile(r"\b([A-Za-z_][A-Za-z0-9_]*)\b")

def _blank_literals_and_comments(sql: str) -> tuple[str, str]:
    """SQL with string literals emptied (''), comments replaced by a
    space and backticked identifiers kept verbatim — once as is, and
    once with every closed optimizer hint (``/*+ ... */``) replaced by
    a space too.

    ONE left-to-right scan that reads quotes and comments the way
    Spark's lexer does, so nothing blanked here can run: backslash
    escapes (``'\\''`` is one literal) except in ``r'...'`` raw strings
    (the ``r`` is blanked with its literal), double-quoted strings,
    ``--`` comments ending at CR or at an LF without a backslash before
    it, nested ``/* /* */ */`` comments in which ``/*+`` opens no level,
    hints ending at their first ``*/`` outside literals. Any
    disagreement with Spark would let a phantom literal hide real code
    from the checks; a single scan is essential too — separate
    literal/comment passes compose wrongly in either order (a ``--``
    INSIDE a literal would eat the rest of the statement, or a quote
    inside a comment would open a phantom literal)."""
    out: list[str] = []
    hints: list[tuple[int, int]] = []  # closed hints, as slices of out
    hint_at = None  # where in out the open hint starts
    i, n = 0, len(sql)
    while i < n:
        c = sql[i]
        if c in "'\"`":
            # r'...' is raw (no escapes) unless the r ends an identifier
            raw = c != "`" and sql[i - 1 : i] in ("r", "R") and not (
                sql[i - 2 : i - 1].isalnum() or sql[i - 2 : i - 1] == "_"
            )
            j = i + 1
            while j < n and sql[j] != c:
                j += 2 if sql[j] == "\\" and c != "`" and not raw else 1
            if raw:
                out.pop()  # the r, kept as plain text one step earlier
            # a doubled backtick reads as two adjacent identifiers here:
            # both are kept verbatim, so the output is the same
            out.append(sql[i : j + 1] if c == "`" else "''")
            i = j + 1
        elif sql.startswith("--", i):
            while i < n and (
                sql[i] not in "\r\n" or sql[i - 1 : i + 1] == "\\\n"
            ):
                i += 1
            out.append(" ")
        elif sql.startswith("/*+", i):
            hint_at = len(out) if hint_at is None else hint_at
            out.append("/*+")
            i += 3
        elif sql.startswith("*/", i) and hint_at is not None:
            out.append("*/")
            hints.append((hint_at, len(out)))
            hint_at, i = None, i + 2
        elif sql.startswith("/*", i):
            depth, i = 1, i + 2
            while i < n and depth:
                step = sql[i : i + 2]
                opens = step == "/*" and sql[i + 2 : i + 3] != "+"
                depth += opens - (step == "*/")
                i += 2 if step in ("/*", "*/") else 1
            out.append(" ")
        else:
            out.append(c)
            i += 1
    bare, last = [], 0
    for a, b in hints:
        bare += out[last:a] + [" "]
        last = b
    return "".join(out), "".join(bare + out[last:])


# --------------------------------------------------------------------------
# R1 — markdown fence handling (query_llm.py:46-54)
# --------------------------------------------------------------------------


def is_fenced(text: str) -> bool:
    """True when the text contains an extractable fenced code block.

    Detection uses the same regex as extraction, so the two can never
    disagree (a ``[^`]*``-style detector would miss fences whose body
    contains backtick-quoted identifiers — which R7 itself produces).
    """
    return bool(_FENCE_EXTRACT_RE.search(text))


def extract_fenced_code(text: str) -> str | None:
    """Code body of the FIRST fenced block (language tag dropped)."""
    m = _FENCE_EXTRACT_RE.search(text)
    return m.group("code") if m else None


# --------------------------------------------------------------------------
# R7 — identifier quoting (query_llm.py:41-43; Spark dialect: backticks)
# --------------------------------------------------------------------------


def quote_ident(name: str) -> str:
    """Quote an identifier for Spark SQL (backticks, doubled to escape)."""
    return "`" + name.replace("`", "``") + "`"


# --------------------------------------------------------------------------
# R5 + R6 — metadata-driven literal canonicalization (query_llm.py:289-342)
# --------------------------------------------------------------------------


def canonicalize_literals(sql: str, meta: dict[str, Any] | None) -> str:
    """Normalize quoted literals per column canonicalization rules.

    R5: for columns with a ``case`` rule of lower/upper, rewrites
    ``col = 'VALUE'`` and ``LOWER(col) = 'VALUE'`` matches (whitespace-
    and case-insensitive) into the canonical compact form
    ``col='value'`` / ``LOWER(col)='value'``.

    R6: every ``map_values`` source literal is replaced globally and
    case-insensitively wherever it appears quoted in the statement — a
    deliberate behavior of the reference (query_llm.py:334-341): the
    rewrite is NOT scoped to predicates on that column. A ``null``
    target becomes SQL ``NULL`` (unquoted).
    """
    if not meta:
        return sql
    fixed = sql
    for col in meta.get("columns", []):
        name = col.get("name")
        if not name:
            continue
        canon = col.get("canonicalization") or {}
        case_rule = (canon.get("case") or "none").lower()

        if case_rule in ("lower", "upper"):

            def recase(lit: str) -> str:
                return lit.lower() if case_rule == "lower" else lit.upper()

            fixed = re.sub(
                rf"(?i)\b{re.escape(name)}\b\s*=\s*'([^']*)'",
                lambda m: f"{name}='{recase(m.group(1))}'",
                fixed,
            )
            fixed = re.sub(
                rf"(?i)LOWER\s*\(\s*{re.escape(name)}\s*\)\s*=\s*'([^']*)'",
                lambda m: f"LOWER({name})='{recase(m.group(1))}'",
                fixed,
            )

        for src, dst in (canon.get("map_values") or {}).items():
            replacement = "NULL" if dst is None else f"'{dst}'"
            fixed = re.sub(
                rf"(?i)'{re.escape(src)}'", lambda _m: replacement, fixed
            )
    return fixed


# --------------------------------------------------------------------------
# R2 + R3 + R4 — schema-aware repairs (query_llm.py:225-265)
# --------------------------------------------------------------------------


def fix_common_mistakes(
    sql: str,
    actual_cols: set[str],
    synonym_map: dict[str, str] | None = None,
) -> str:
    """Repair alias usage, literal case slip, and identifier typos.

    R2: each synonym alias is rewritten (word-bounded, case-insensitive)
    to its canonical column — but ONLY when the alias is not itself a
    real column and the canonical is (query_llm.py:242-246).

    R3: ``= 'ONLINE'`` (any case) → ``='online'`` — kept for parity even
    though R5 subsumes it when the dictionary is loaded
    (query_llm.py:248-249).

    R4: every identifier token that is neither an allowlisted keyword
    nor a real column is fuzzy-matched against the real columns
    (``difflib.get_close_matches``, n=1, cutoff 0.86) and, on a hit,
    replaced word-bounded and case-SENSITIVELY (query_llm.py:251-263).

    Two deliberate hardenings over the reference's regexes:
    - string literals are masked first, so R2/R3/R4 can never rewrite
      words INSIDE a quoted value (``LIKE '%state%'`` stays intact);
    - candidate/token iteration is sorted, so difflib ratio ties break
      identically on every run (a raw set order would make repaired
      SQL vary across interpreter processes).
    """
    # mask string literals: placeholders use \x01<digits>\x01, which the
    # identifier regexes cannot match, then restore at the end. Any
    # pre-existing \x01 in the input is dropped first (never legitimate
    # SQL) so a crafted payload can't address the placeholder table.
    literals: list[str] = []

    def _mask(m: re.Match) -> str:
        literals.append(m.group(0))
        return f"\x01{len(literals) - 1}\x01"

    fixed = re.sub(r"'[^']*'", _mask, sql.replace("\x01", ""))

    for alias_lc in sorted(synonym_map or {}):
        canonical = synonym_map[alias_lc]
        if alias_lc not in actual_cols and canonical in actual_cols:
            fixed = re.sub(
                rf"\b{re.escape(alias_lc)}\b",
                canonical,
                fixed,
                flags=re.IGNORECASE,
            )

    tokens = set(_IDENT_RE.findall(fixed))
    unknowns = [
        tok
        for tok in sorted(tokens)
        if tok.lower() not in SQL_KEYWORDS and tok not in actual_cols
    ]
    candidates = sorted(actual_cols)
    for tok in unknowns:
        best = difflib.get_close_matches(tok, candidates, n=1, cutoff=0.86)
        if best:
            fixed = re.sub(rf"\b{re.escape(tok)}\b", best[0], fixed)

    fixed = re.sub(r"\x01(\d+)\x01", lambda m: literals[int(m.group(1))], fixed)
    # R3 runs on the restored text: its target IS a quoted literal
    fixed = re.sub(r"=\s*'ONLINE'", "='online'", fixed, flags=re.IGNORECASE)
    return fixed


# --------------------------------------------------------------------------
# Full pipeline (order fixed by reference query_llm.py:491-501)
# --------------------------------------------------------------------------


def repair_sql(
    raw: str,
    actual_cols: set[str],
    meta: dict[str, Any] | None = None,
    synonym_map: dict[str, str] | None = None,
) -> str:
    """R1 → strip → R5+R6 → R2+R3+R4, exactly the reference's order."""
    sql = extract_fenced_code(raw) if is_fenced(raw) else raw
    sql = (sql or raw or "").strip()
    if meta:
        sql = canonicalize_literals(sql, meta)
    return fix_common_mistakes(sql, actual_cols, synonym_map=synonym_map)


#: Leading keywords allowed by the read-only gate (matched by EXACT
#: equality on the first word after any opening parens). The reference
#: gets read-only for free from duckdb.connect(read_only=True)
#: (query_llm.py:443); Spark sessions are not read-only, so we gate at
#: the statement level (SURVEY.md §4.2).
_READONLY_KEYWORDS = frozenset(
    {"select", "with", "values", "explain", "describe", "show"}
)

#: Tokens that mutate data/metadata — rejected anywhere in the
#: statement (outside string literals), so a ``WITH cte AS (...)
#: INSERT INTO ...`` can't slip past the prefix check.
#: ``set`` and ``replace`` are deliberately absent: bare SET is already
#: stopped by the prefix gate, ``replace()`` is a legitimate SELECT
#: string function, and CREATE OR REPLACE trips on ``create``.
_MUTATION_RE = re.compile(
    r"\b(insert|update|delete|merge|drop|create|alter|truncate"
    r"|grant|revoke|copy|call|vacuum|refresh|uncache)\b",
    re.IGNORECASE,
)

#: Statement parts that run code outside the query — static JVM
#: methods (``java_method('java.lang.System', 'exit', 0)``, also as
#: ``reflect``/``try_reflect``), the IDENTIFIER clause (its computed
#: name can spell them: ``IDENTIFIER('java_' || 'method')(...)``), and
#: script transforms (``TRANSFORM(a) USING 'sh ...'``, a literal after
#: USING). Matched as CALLS, so a column named ``reflect`` still reads;
#: the word boundary after a backtick or qualifier dot catches
#: ```java_method`(`` and ``system.builtin.reflect(``.
_CODE_EXEC_RE = re.compile(
    r"\b(?:reflect|java_method|try_reflect|identifier)\b`?\s*\("
    r"|\busing\s*''",
    re.IGNORECASE,
)

#: Prefixes whose statements may legitimately CONTAIN mutation words
#: without executing them (SHOW CREATE TABLE, EXPLAIN INSERT analyzes
#: but never runs the write).
_INTROSPECTION_PREFIXES = ("show", "describe", "explain")


def ensure_readonly(sql: str) -> None:
    """Raise ValueError unless the statement is a read-only query.

    Three layers over ONE literal/comment-aware scan: (1) the first real
    token must be a query prefix; (2) nothing that runs code outside the
    query (JVM reflection, IDENTIFIER clauses, script transforms)
    may appear outside string literals and comments; (3) for executable
    query prefixes, no mutation keyword may appear there either —
    catching WITH-prefixed DML. Biased toward safety: a SELECT whose
    *identifier* is literally named ``update`` is rejected (rename it);
    data values and comments never trip the gate.
    """
    cleaned, outside_hints = _blank_literals_and_comments(sql)
    # First KEYWORD, not first whitespace token: skip opening parens
    # (``(SELECT ...) UNION ...``) and compare by EQUALITY — a prefix
    # match would wave through any token merely *beginning* with an
    # allowed word (``selectivity_foo``) and let ``explain``-prefixed
    # identifiers skip the mutation scan (ADVICE r2).
    # the token pattern must consume trailing digits/underscores so
    # 'show1'/'explain2' capture whole (and fail the equality check)
    # instead of capturing the bare keyword and skipping the scan
    m = re.match(r"[\s(]*([A-Za-z_][A-Za-z0-9_]*)", outside_hints)
    first = m.group(1).lower() if m else ""
    if first not in _READONLY_KEYWORDS:
        raise ValueError(
            f"read-only violation: statement starts with {first!r}; "
            "only SELECT/WITH/VALUES/EXPLAIN/DESCRIBE/SHOW are allowed"
        )
    m = _CODE_EXEC_RE.search(cleaned)
    if m:
        raise ValueError(
            f"read-only violation: statement contains {m.group(0)!r}"
        )
    if first in _INTROSPECTION_PREFIXES:
        return  # SHOW CREATE TABLE etc: mutation words are display-only
    # hints stay in the code scan (their arguments are expressions) but
    # not in this one: /*+ MERGE(a) */ is a join strategy
    m = _MUTATION_RE.search(outside_hints)
    if m:
        raise ValueError(
            f"read-only violation: statement contains {m.group(0)!r}"
        )


def execute_with_repair(
    spark,
    sql: str,
    actual_cols: set[str],
    meta: dict[str, Any] | None = None,
    synonym_map: dict[str, str] | None = None,
):
    """Run SQL; on parse/analysis failure repair once and retry.

    Returns ``(DataFrame, final_sql, repaired: bool)``. The reference
    repairs unconditionally before its single execution
    (query_llm.py:491-506); we execute eagerly first (valid SQL skips
    the regex pass entirely) and use Catalyst's structured errors as the
    repair trigger — the validation loop SURVEY.md §4.2 sketches.
    """
    from pyspark.errors import AnalysisException, ParseException

    from .dialect_shim import to_spark_sql

    ensure_readonly(sql)
    try:
        return spark.sql(sql), sql, False
    except (AnalysisException, ParseException):
        # Two repair layers, tried cumulatively: (1) the dialect shim —
        # LLMs prompted for this tool family routinely emit DuckDB SQL
        # (the reference's engine IS DuckDB), and the shim is a no-op on
        # valid Spark SQL; (2) the reference's regex repairs (aliases,
        # literal case, identifier typos).
        shimmed = to_spark_sql(sql)
        if shimmed != sql:
            try:
                ensure_readonly(shimmed)
                return spark.sql(shimmed), shimmed, True
            except (AnalysisException, ParseException):
                pass
        repaired = repair_sql(
            shimmed, actual_cols, meta=meta, synonym_map=synonym_map
        )
        ensure_readonly(repaired)
        return spark.sql(repaired), repaired, True
