"""The ask_mix request stream: NL questions and DuckDB-dialect SQL.

An NL request carries the SQL the generator intends, the broken completion
the stub LLM returns for it, and the same query in DuckDB SQL for the
result check. The completion is broken the way LLM output breaks, in the
ways the repair pipeline documents it undoes: a markdown fence, a column
alias from the data dictionary, an identifier typo, a wrong-case literal,
a colloquial country name. A SQL request is DuckDB-only syntax that the
CLI's ``--dialect duckdb`` shim translates; DuckDB runs the same text.

Each pass issues every template once with fresh parameters, plus
``REPEATS_PER_PASS`` verbatim repeats of requests issued earlier in the run.
"""

from __future__ import annotations

import random
import re
from dataclasses import dataclass

from .data import CLOUDS, COUNTRIES, EVENT_TYPES, PRIORITIES, STATUSES, SUITES, TOOLS, VOCAB

REPEATS_PER_PASS = 5


@dataclass(frozen=True)
class Request:
    kind: str  # "ask" or "sql"
    table: str
    text: str  # the question (ask) or the DuckDB-dialect query (sql)
    completion: str  # stub LLM output (ask only)
    intended_sql: str  # what repair must turn the completion into (ask only)
    duck_sql: str  # the same query for DuckDB


# R6 rewrites every quoted 'us' to 'United States' by design (the map is
# global, as in the reference), so the cloud literal 'US' cannot survive
# repair; the NL templates draw clouds without it.
_NL_CLOUDS = tuple(c for c in CLOUDS if c != "US")

#: (canonical column, alias the dictionary maps back to it)
_ALIASES = (("queue", "name"), ("status", "state"), ("corecount", "ncores"),
            ("cloud", "region"), ("hc_suite", "suite"))
#: (column, typo close enough for the fuzzy identifier repair)
_TYPOS = (("corecount", "corecont"), ("corepower", "corepwer"),
          ("country", "contry"), ("harvester", "harvestr"))
_COLLOQUIAL_US = ("usa", "america", "united states of america")


def _nl_templates(r: random.Random) -> list[tuple[str, str, str]]:
    """(question, intended Spark SQL, DuckDB SQL), one per template."""
    s, s2 = r.choice(STATUSES), r.choice(STATUSES)
    c, c2 = r.choice(_NL_CLOUDS), r.choice(_NL_CLOUDS)
    k, lim = r.randint(16, 200), r.randint(20, 80)
    country, suite = r.choice(COUNTRIES), r.choice(SUITES)
    rucio = "SELECT queue FROM queuedata WHERE {} IS NULL AND status='{}'"
    return [
        (f"list all queues that are {s}",
         f"SELECT queue FROM queuedata WHERE status='{s}'", None),
        (f"which {s2} queues are in cloud {c} and how many cores do they have",
         f"SELECT queue, corecount FROM queuedata WHERE cloud='{c}' AND status='{s2}'"
         " ORDER BY queue", None),
        (f"how many queues per status are there in cloud {c2}",
         f"SELECT status, count(*) AS n FROM queuedata WHERE cloud='{c2}'"
         " GROUP BY status ORDER BY status", None),
        (f"average core power per cloud for queues with at least {k} cores",
         f"SELECT cloud, avg(corepower) AS mean_power FROM queuedata"
         f" WHERE corecount >= {k} GROUP BY cloud ORDER BY cloud", None),
        (f"{s} queues that do not use rucio",
         rucio.format("get_json_object(copytools, '$.rucio')", s),
         rucio.format("json_extract(copytools, '$.rucio')", s)),
        (f"queues in {country} with more than {k} cores",
         f"SELECT queue, cloud FROM queuedata WHERE country='{country}'"
         f" AND corecount > {k} ORDER BY queue", None),
        (f"top {lim} queues by core count",
         f"SELECT queue, corecount FROM queuedata WHERE corecount IS NOT NULL"
         f" ORDER BY corecount DESC, queue LIMIT {lim}", None),
        (f"queues in cloud {c} without a harvester template",
         f"SELECT queue, harvester FROM queuedata WHERE (harvester_template IS NULL"
         f" OR harvester_template = '') AND cloud='{c}'", None),
        (f"{s2} queues running the {suite} suite",
         f"SELECT queue FROM queuedata WHERE hc_suite LIKE '%\"{suite}\"%'"
         f" AND status='{s2}'", None),
        (f"number of {s} queues per country",
         f"SELECT country, count(*) AS n FROM queuedata WHERE status='{s}'"
         " GROUP BY country ORDER BY n DESC, country", None),
    ]


def _sub_word(sql: str, old: str, new: str) -> str:
    return re.sub(rf"\b{re.escape(old)}\b", new, sql)


def break_completion(sql: str, r: random.Random) -> str:
    """Damage ``sql`` the ways LLM output breaks; repair must undo all of it.

    One completion in four comes back clean, as valid LLM output does.
    """
    if r.random() < 0.25:
        return sql
    options = []
    for col, alias in _ALIASES:
        if re.search(rf"\b{col}\b", sql):
            options.append(("alias", col, alias))
    for col, typo in _TYPOS:
        if re.search(rf"\b{col}\b", sql):
            options.append(("typo", col, typo))
    for m in re.finditer(r"\b(status|cloud)='([^']*)'", sql):
        options.append(("case", m.group(0), m.group(1)))
    if "country='United States'" in sql:
        options.append(("colloquial", "", ""))
    out = sql
    miscased = set()
    for what, a, b in r.sample(options, min(len(options), r.randint(1, 2))):
        if what == "case":
            col, lit = b, a.split("'")[1]
            # a miscased literal on an aliased column escapes the case
            # repair, which runs before the alias repair (reference order)
            if f"{col}=" not in out:
                continue
            flipped = lit.upper() if lit.islower() else lit.lower()
            out = out.replace(a, f"{col} = '{flipped}'")
            miscased.add(col)
        elif what == "alias":
            if a in miscased:
                continue
            out = _sub_word(out, a, b)
        elif what == "typo":
            out = _sub_word(out, a, b)
        else:
            out = out.replace("'United States'", f"'{r.choice(_COLLOQUIAL_US)}'")
    if r.random() < 0.5:
        out = f"```sql\n{out}\n```"
    return out


def _sql_templates(r: random.Random) -> list[tuple[str, str]]:
    """(table to validate, DuckDB-dialect query)."""
    et, et2 = r.choice(EVENT_TYPES), r.choice(EVENT_TYPES)
    return [
        ("events", f"SELECT props->>'k' AS k, count(*) AS n FROM events"
                   f" WHERE event_type = '{et}' GROUP BY ALL ORDER BY ALL"),
        ("lineitem", f"SELECT l_orderkey // {r.choice([500, 1000, 2000])} AS bucket,"
                     " count(*) AS n, sum(l_quantity) AS qty FROM lineitem"
                     f" WHERE l_returnflag = '{r.choice('ANR')}' GROUP BY ALL ORDER BY ALL"),
        ("orders", "SELECT strftime(o_orderdate, '%Y-%m') AS ym, count(*) AS n"
                   f" FROM orders WHERE o_orderpriority = '{r.choice(PRIORITIES)}'"
                   " GROUP BY ALL ORDER BY ALL"),
        ("orders", "SELECT o_orderkey, o_custkey, o_totalprice FROM orders"
                   f" WHERE o_totalprice > {r.randint(100_000, 200_000)} ORDER BY o_orderkey"),
        ("events", "SELECT user_id, list_sort(list_distinct(array_agg(event_type)))"
                   f" AS kinds FROM events WHERE user_id < {r.randint(20, 60)}"
                   " GROUP BY ALL ORDER BY ALL"),
        ("customer", "SELECT c_mktsegment, count(*) AS n, max(c_acctbal) AS top"
                     f" FROM customer WHERE c_nationkey < {r.randint(5, 24)}"
                     " GROUP BY ALL ORDER BY ALL"),
        ("queuedata", f"SELECT cloud, count(*) AS n FROM queuedata"
                      f" WHERE copytools->>'{r.choice(TOOLS)}' IS NOT NULL"
                      " GROUP BY ALL ORDER BY ALL"),
        ("documents", "SELECT lang, count(*) AS n, sum(len(string_split(text, ' ')))"
                      " AS words FROM documents WHERE list_contains(string_split(text,"
                      f" ' '), '{r.choice(VOCAB)}') GROUP BY ALL ORDER BY ALL"),
        ("lineitem", "SELECT l_returnflag, l_linestatus, sum(l_extendedprice *"
                     " (1 - l_discount)) AS revenue, count(*) AS n FROM lineitem"
                     f" WHERE l_quantity > {r.randint(5, 45)} GROUP BY ALL ORDER BY ALL"),
        ("events", "SELECT strftime(ts, '%Y-%m-%d') AS day, count(*) AS n,"
                   f" sum(value) AS total FROM events WHERE event_type = '{et2}'"
                   " GROUP BY ALL ORDER BY ALL"),
    ]


def fresh_requests(r: random.Random) -> list[Request]:
    out = []
    for question, sql, duck in _nl_templates(r):
        out.append(Request("ask", "queuedata", question, break_completion(sql, r),
                           sql, duck or sql))
    for table, sql in _sql_templates(r):
        out.append(Request("sql", table, sql, "", "", sql))
    return out


def request_passes(seed: int, n_passes: int) -> list[list[Request]]:
    """``n_passes`` passes of the stream for ``seed``; same seed, same stream."""
    r = random.Random(seed)
    issued: list[Request] = []
    passes = []
    for _ in range(n_passes):
        batch = fresh_requests(r)
        r.shuffle(batch)
        for _ in range(REPEATS_PER_PASS):
            # a repeat goes after the request it repeats
            pos = r.randint(1, len(batch))
            batch.insert(pos, r.choice(issued + batch[:pos]))
        issued.extend(batch)
        passes.append(batch)
    return passes
