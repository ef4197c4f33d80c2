"""One-time preparation in a checkout: base tables and DuckDB oracle counts.

Both are kept under the work directory and reused by later runs. The oracle
counts are keyed by a hash of the oracle SQL, so an edited oracle is
recounted.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

from . import data

SCALES = {"sf0.1": 0.1, "sf0.01": 0.01}


def data_dir(work: str) -> str:
    return os.path.join(work, f"data-v{data.DATA_VERSION}")


def ensure_tables(work: str) -> dict[str, str]:
    """Generate the base tables once; return {scale name: directory}."""
    out = {}
    for name, sf in SCALES.items():
        final = os.path.join(data_dir(work), name)
        if not os.path.isdir(final):
            tmp = final + ".tmp"
            shutil.rmtree(tmp, ignore_errors=True)
            data.write_tables(data.base_tables(sf), tmp)
            os.replace(tmp, final)
        out[name] = final
    return out


def duckdb_views(con, sf_dir: str) -> None:
    for f in sorted(os.listdir(sf_dir)):
        if f.endswith(".parquet"):
            con.sql(f"CREATE OR REPLACE VIEW {f[:-8]} AS SELECT * FROM "
                    f"'{os.path.join(sf_dir, f)}'")


def _oracle_cache(work: str, sf_dir: str) -> tuple[str, dict]:
    path = os.path.join(data_dir(work), f"oracle_counts_{os.path.basename(sf_dir)}.json")
    if not os.path.exists(path):
        return path, {}
    with open(path) as f:
        return path, json.load(f)


def _sha(sql: str) -> str:
    return hashlib.sha256(sql.encode()).hexdigest()


def oracle_counts(work: str, sf_dir: str, names: list[str], oracles: dict) -> dict[str, int]:
    """DuckDB's ``count(*)`` of each operator's oracle over ``sf_dir``."""
    import duckdb

    path, cache = _oracle_cache(work, sf_dir)
    stale = [n for n in names if cache.get(n, {}).get("sha") != _sha(oracles[n])]
    if stale:
        con = duckdb.connect()
        con.sql(f"SET threads = {os.cpu_count() or 1}")
        duckdb_views(con, sf_dir)
        for name in stale:
            (n,) = con.sql(f"SELECT count(*) FROM ({oracles[name]})").fetchone()
            cache[name] = {"sha": _sha(oracles[name]), "count": int(n)}
        con.close()
        with open(path + ".tmp", "w") as f:
            json.dump(cache, f, indent=1, sort_keys=True)
        os.replace(path + ".tmp", path)
    return {name: cache[name]["count"] for name in names}


def pending(work: str) -> bool:
    """True when the tables or an oracle count are missing or out of date."""
    from ask_duckdb_spark.operators import ORACLES

    from .workloads import OPS

    sf_dir = os.path.join(data_dir(work), "sf0.1")
    if not all(os.path.isdir(os.path.join(data_dir(work), n)) for n in SCALES):
        return True
    _, cache = _oracle_cache(work, sf_dir)
    return any(cache.get(n, {}).get("sha") != _sha(ORACLES[n]) for n in OPS)


def main(work: str) -> None:
    from ask_duckdb_spark.operators import ORACLES

    from .workloads import OPS

    dirs = ensure_tables(work)
    oracle_counts(work, dirs["sf0.1"], list(OPS), ORACLES)


if __name__ == "__main__":
    import sys

    main(sys.argv[1])
