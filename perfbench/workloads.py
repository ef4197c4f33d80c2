"""The workloads: one client, one request or operator run at a time.

``ask_mix``             the reference product's loop: questions through
                        ``cli.ask.main`` (stub LLM) and DuckDB-dialect SQL
                        through ``cli.sql.main --dialect duckdb``.
``pipeline_sf01``       registry operators at sf0.1: build, ``count()``; the
                        four with the longest output are also written in
                        full with ``sources.sinks.write_parquet``.

Every run sets up Spark ``SETUPS`` times (``get_spark``, view registration,
a one-job warm-up) and reports the median as ``setup_s``. It then warms the
workload's code paths, untimed, and measures whole passes until ``seconds``
have gone by. Answers are checked after the timed region.
"""

from __future__ import annotations

import contextlib
import io
import json
import math
import os
import random
import shutil
import signal
import statistics
import subprocess
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from ask_duckdb_spark.cli import ask as cli_ask
from ask_duckdb_spark.cli import sql as cli_sql
from ask_duckdb_spark.operators import ORACLES, QUERIES
from ask_duckdb_spark.session import get_spark
from ask_duckdb_spark.sources import display
from ask_duckdb_spark.sources.catalog import register_views
from ask_duckdb_spark.sources.queuedata_fixture import queuedata_dictionary
from ask_duckdb_spark.sources.sinks import write_parquet

from . import build, data, stream
from .trace import Tracer

SETUPS = 3
MAX_ROWS = 1000  # the CLI's display cap

#: bench.py's HEADLINE + HEADLINE_V2, copied so that edits there do not
#: change this workload.
OPS = (
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
    "q6_forecast_revenue", "q10_returned_items", "q18_large_orders",
    "w1_row_number_topk_per_group", "w2_running_sum", "x1b_dedup_hash_key",
    "x2_minhash_neardup", "x4_simhash", "x5_cosine_topk", "x8_token_stats",
    "x9_top_terms", "x12_fingerprint", "x13_sessionize", "x15_tumbling_window",
    "x18_props_schema_on_read", "x20_decode_features", "x22_tfidf_top_term",
    "x25_batch_ann_topk", "x26_salted_user_totals", "x116_merge_upsert",
    "x117b_plain_semijoin", "x125_phrase_match", "x127_corr_matrix",
    "x133b_eval_decontam_bcast", "x136_eval_leak_report",
)
#: The operators of OPS with the longest output; each pass also writes
#: their full results, which ``count()`` would let Catalyst prune.
WRITE_OPS = (
    "w1_row_number_topk_per_group", "w2_running_sum", "x13_sessionize",
    "x116_merge_upsert",
)

ASK_WARM_SETS = 3  # untimed fresh request sets before ask_mix's timed passes


class Failures(list):
    def add(self, what: str, cause: str) -> None:
        self.append({"op": what, "cause": cause})


# ---------------------------------------------------------------------------
# set-up
# ---------------------------------------------------------------------------


def _setup_once(sf_dir: str, views: dict[str, str]):
    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    t1 = time.perf_counter()
    register_views(spark, sf_dir)
    for name, path in views.items():
        spark.read.parquet(path).createOrReplaceTempView(name)
    t2 = time.perf_counter()
    n = spark.sparkContext.defaultParallelism
    spark.range(0, n, 1, n).count()
    t3 = time.perf_counter()
    return spark, {"get_spark": t1 - t0, "register": t2 - t1, "warm": t3 - t2, "total": t3 - t0}


def set_up(sf_dir: str, views: dict[str, str]):
    """Set up ``SETUPS`` times (the first one starts the JVM); keep the last."""
    spark, times = None, []
    for _ in range(SETUPS):
        if spark is not None:
            spark.stop()
        spark, t = _setup_once(sf_dir, views)
        times.append(t)
    return spark, times


def _proc_stat(pid: int) -> tuple[str, int] | None:
    """(state, parent pid) of a live process, None once it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None
    return fields[0], int(fields[1])


def _descendants() -> list[int]:
    """This process's descendants: the JVM and the Python workers under it."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit() and (st := _proc_stat(int(entry))) is not None:
            children.setdefault(st[1], []).append(int(entry))
    out, todo = [], list(children.get(os.getpid(), ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def stop_jvm() -> None:
    """Shut the JVM down and wait for it and its Python workers to end."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    others = [p for p in _descendants() if p != gateway.proc.pid]
    SparkContext._gateway = SparkContext._jvm = None
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        gateway.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()
    deadline = time.monotonic() + 30
    while others:
        others = [p for p in others if (_proc_stat(p) or ("Z",))[0] != "Z"]
        if others and time.monotonic() > deadline:
            for p in others:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(p, signal.SIGKILL)
            deadline = time.monotonic() + 30
        time.sleep(0.05)


def peak_rss_mb() -> float:
    """Summed VmHWM of this process and its descendants (JVM, Python workers)."""
    total_kb = 0
    for pid in [os.getpid(), *_descendants()]:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024


def percentile(values: list[float], q: int) -> float:
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


# ---------------------------------------------------------------------------
# ask_mix
# ---------------------------------------------------------------------------


class _PreviewCapture:
    """Keeps what ``display.result_preview`` returns, for the answer check."""

    def __init__(self):
        self.orig = display.result_preview
        self.seen: list = []

    def __call__(self, *args, **kwargs):
        out = self.orig(*args, **kwargs)
        self.seen.append(out)
        return out

    def __enter__(self):
        display.result_preview = self
        return self

    def __exit__(self, *exc):
        display.result_preview = self.orig
        return False


def _argv(req: stream.Request, sf_dir: str, dict_path: str) -> list[str]:
    if req.kind == "ask":
        return ["--sf-dir", sf_dir, "--table", req.table, "--llm", "stub",
                "--schema-meta", dict_path, "--question", req.text,
                "--stub-sql", req.completion, "--max-rows", str(MAX_ROWS)]
    return ["--sf-dir", sf_dir, "--table", req.table, "--dialect", "duckdb",
            "--query", req.text, "--max-rows", str(MAX_ROWS)]


def _issue(req, argv, capture: _PreviewCapture, tracer: Tracer | None) -> dict:
    main = cli_ask.main if req.kind == "ask" else cli_sql.main
    op = tracer.begin_op() if tracer else None
    first = len(tracer.spans) if tracer else 0
    capture.seen.clear()
    out, code = io.StringIO(), 0
    t0 = time.perf_counter()
    with contextlib.redirect_stdout(out):
        try:
            main(argv)
        except SystemExit as e:
            code = e.code if isinstance(e.code, int) else (0 if e.code is None else 1)
        except Exception as e:  # a library bug: count it, keep the loop going
            code = f"{type(e).__name__}: {e}"
    wall = time.perf_counter() - t0
    if tracer is not None:
        tracer.collect_spark(first)
    return {"req": req, "wall": wall, "code": code, "stdout": out.getvalue(),
            "previews": list(capture.seen), "op": op}


def _cleaned_sql(stdout: str) -> str | None:
    head = "=== Cleaned SQL ===\n"
    if head not in stdout:
        return None
    return stdout.split(head, 1)[1].split("\n=== Query result", 1)[0].strip()


def _norm(v):
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_norm(x) for x in v)
    if v is None or (not isinstance(v, str) and pd.isna(v)):
        return None
    if isinstance(v, (bool, np.bool_)):
        return bool(v)
    if isinstance(v, (int, float, np.integer, np.floating)):
        return float(v)
    if isinstance(v, pd.Timestamp) or hasattr(v, "isoformat"):
        return pd.Timestamp(v).isoformat()
    return str(v)


def _sort_key(row):
    return tuple((0, "") if c is None else (1, f"{c:.6g}") if isinstance(c, float)
                 else (2, repr(c)) for c in row)


def _same_rows(spark_pdf, duck_df) -> str | None:
    """None when both frames hold the same rows as multisets, else why not."""
    if spark_pdf.shape[1] != duck_df.shape[1]:
        return f"{spark_pdf.shape[1]} columns vs DuckDB {duck_df.shape[1]}"
    a = sorted((tuple(_norm(c) for c in r) for r in spark_pdf.itertuples(index=False)), key=_sort_key)
    b = sorted((tuple(_norm(c) for c in r) for r in duck_df.itertuples(index=False)), key=_sort_key)
    for ra, rb in zip(a, b):
        for ca, cb in zip(ra, rb):
            if isinstance(ca, float) and isinstance(cb, float):
                if not math.isclose(ca, cb, rel_tol=1e-9, abs_tol=1e-9):
                    return f"value {ca!r} vs DuckDB {cb!r}"
            elif ca != cb:
                return f"value {ca!r} vs DuckDB {cb!r}"
    return None


def _check_ask_mix(records, sf_dir, qd_path, failures: Failures) -> list[float]:
    """Check every request against DuckDB; return DuckDB's walls for the SQL ones."""
    import duckdb

    con = duckdb.connect()
    con.sql("SET threads = 1")  # one client, like the CLI's request loop
    build.duckdb_views(con, sf_dir)
    con.sql(f"CREATE VIEW queuedata AS SELECT * FROM '{qd_path}'")
    duck_ms = []
    for i, rec in enumerate(records):
        req, what = rec["req"], f"{rec['req'].kind}#{i}"
        if rec["code"] != 0:
            failures.add(what, f"exit {rec['code']}: {req.text!r}")
            continue
        if req.kind == "ask" and _cleaned_sql(rec["stdout"]) != req.intended_sql:
            failures.add(what, f"cleaned SQL {_cleaned_sql(rec['stdout'])!r}"
                               f" != intended {req.intended_sql!r}")
            continue
        if len(rec["previews"]) != 1:
            failures.add(what, f"{len(rec['previews'])} results displayed")
            continue
        t0 = time.perf_counter()
        want = con.sql(req.duck_sql).df()
        if req.kind == "sql":
            duck_ms.append((time.perf_counter() - t0) * 1e3)
        total, pdf = rec["previews"][0]
        if total != len(want):
            failures.add(what, f"{total} rows vs DuckDB {len(want)}: {req.text!r}")
        elif total <= MAX_ROWS and (why := _same_rows(pdf, want)):
            failures.add(what, f"{why}: {req.text!r}")
    con.close()
    return duck_ms


def ask_mix(ctx) -> dict:
    qd_path = os.path.join(ctx.run_dir, "queuedata.parquet")
    pq.write_table(data.queuedata_table(ctx.seed), qd_path)
    dict_path = os.path.join(ctx.run_dir, "queuedata.schema.json")
    with open(dict_path, "w") as f:
        json.dump(queuedata_dictionary(), f)
    sf_dir = ctx.dirs["sf0.01"]

    spark, setups = set_up(sf_dir, {"queuedata": qd_path})
    passes = stream.request_passes(ctx.seed, 64)
    warm_rng = random.Random(ctx.seed + 1_000_003)
    warm_stream = [req for _ in range(ASK_WARM_SETS) for req in stream.fresh_requests(warm_rng)]
    with _PreviewCapture() as capture:
        t0 = time.perf_counter()
        for req in warm_stream:
            _issue(req, _argv(req, sf_dir, dict_path), capture, None)
        warmup_s = time.perf_counter() - t0

        tracer = ctx.start_tracer(spark)
        records, pass_walls = [], []
        t_start = time.perf_counter()
        for batch in passes:
            recs = [_issue(r, _argv(r, sf_dir, dict_path), capture, tracer) for r in batch]
            records.extend(recs)
            pass_walls.append(sum(r["wall"] for r in recs))
            if time.perf_counter() - t_start >= ctx.seconds:
                break
        measured_s = time.perf_counter() - t_start
        ctx.stop_tracer()
    rss = peak_rss_mb()
    spark.stop()

    failures = Failures()
    duck_ms = _check_ask_mix(records, sf_dir, qd_path, failures)
    walls = [r["wall"] * 1e3 for r in records]
    by_kind = {k: [r["wall"] * 1e3 for r in records if r["req"].kind == k] for k in ("ask", "sql")}
    report = {
        "requests": len(records), "pass_walls": pass_walls,
        "ask_p50_ms": percentile(by_kind["ask"], 50), "ask_p90_ms": percentile(by_kind["ask"], 90),
        "sql_p50_ms": percentile(by_kind["sql"], 50), "sql_p90_ms": percentile(by_kind["sql"], 90),
        "duckdb.sql_p50_ms": percentile(duck_ms, 50) if duck_ms else None,
    }
    layers = {"duckdb.sql_p50_ms": report["duckdb.sql_p50_ms"] or 0.0}
    if ctx.tracer is not None:
        layers.update(_ask_layers(ctx.tracer, records))
    return ctx.result(setups, warmup_s, walls, pass_walls, rss, measured_s,
                      len(records), failures, report, layers)


def _ask_layers(tracer: Tracer, records) -> dict:
    selfs = tracer.self_times()
    spark_ops = tracer.spark_by_op()
    display_ops = tracer.spark_by_op(("sources.display",))
    ops = [r["op"] for r in records]

    def med_ms(name, kinds=("ask", "sql")):
        vals = [selfs[r["op"]][name] * 1e3 for r in records
                if r["req"].kind in kinds and name in selfs[r["op"]]]
        return statistics.median(vals) if vals else 0.0

    asks = [r for r in records if r["req"].kind == "ask"]
    changed = sum(_cleaned_sql(r["stdout"]) != r["req"].completion.strip() for r in asks)
    previews = [p for r in records for p in r["previews"]]
    out = {
        "sources.open_source_ms": med_ms("sources.open_source"),
        "cli.ask_self_ms": med_ms("cli.ask", ("ask",)),
        "cli.sql_self_ms": med_ms("cli.sql", ("sql",)),
        "sources.display_ms": med_ms("sources.display"),
        "sources.display_jobs": statistics.mean(display_ops[o].get("jobs", 0) for o in ops),
        "sources.display_truncated_frac": (
            sum(t is not None and t > len(p) for t, p in previews) / len(previews)
            if previews else 0.0),
        "introspect.schema_ms": med_ms("introspect.schema", ("ask",)),
        "nl.context_ms": med_ms("nl.context", ("ask",)),
        "nl.prompt_ms": med_ms("nl.prompt", ("ask",)),
        "nl.llm_ms": med_ms("nl.llm", ("ask",)),
        "nl.repair_ms": med_ms("nl.repair", ("ask",)),
        "nl.gate_ms": med_ms("nl.gate"),
        "nl.shim_ms": med_ms("nl.shim", ("sql",)),
        "nl.repair_changed_frac": changed / len(asks) if asks else 0.0,
        "spark.sql_analyze_ms": med_ms("spark.sql_analyze"),
    }
    out.update(_spark_means([spark_ops[o] for o in ops]))
    return out


# ---------------------------------------------------------------------------
# pipeline_sf01
# ---------------------------------------------------------------------------


def _spark_means(per_op: list[dict]) -> dict:
    """Spark counters per request or operator run, averaged."""
    keys = ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
            "shuffle_write_mb", "spill_mb")
    n = max(len(per_op), 1)
    out = {f"spark.{k}": sum(d.get(k, 0.0) for d in per_op) / n for k in keys}
    out["spark.run_minus_cpu_s"] = out["spark.executor_run_s"] - out["spark.executor_cpu_s"]
    return out


def _du_mb(path: str) -> float:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs) / 2**20


def pipeline(ctx) -> dict:
    sf_dir = ctx.dirs["sf0.1"]
    expected = build.oracle_counts(ctx.work, sf_dir, list(OPS), ORACLES)
    jobs = [(name, False) for name in OPS] + [(name, True) for name in WRITE_OPS]
    out_root = os.path.join(ctx.run_dir, "out")
    failures = Failures()

    spark, setups = set_up(sf_dir, {})

    def warm(job) -> int | str:
        name, write = job
        try:
            df = QUERIES[name](spark, sf_dir)
            if not write:
                return df.count()
            path = os.path.join(out_root, f"warm-{name}")
            write_parquet(df, path)
            return spark.read.parquet(path).count()
        except Exception as e:  # a library bug: count it, keep the run going
            return f"{type(e).__name__}: {e}"

    # The untimed first pass compiles every plan's generated code; it runs
    # the operators concurrently, one per core, to keep runs short. (A
    # second such pass did not make the timed pass steadier.)
    t0 = time.perf_counter()
    with ThreadPoolExecutor(ctx.ncpu) as ex:
        for (name, write), n in zip(jobs, ex.map(warm, jobs)):
            if n != expected[name]:
                failures.add(f"warm {name}{' write' * write}",
                             n if isinstance(n, str) else f"{n} rows vs DuckDB {expected[name]}")
    spark.catalog.clearCache()
    shutil.rmtree(out_root, ignore_errors=True)
    warmup_s = time.perf_counter() - t0

    tracer = ctx.start_tracer(spark)
    span = tracer.span if tracer else (lambda _name: contextlib.nullcontext())
    jsc = spark.sparkContext._jsc
    r = random.Random(ctx.seed)
    runs, pass_walls, attempted = [], [], len(jobs)  # the warm-up's checks count too
    t_start = time.perf_counter()
    while not pass_walls or time.perf_counter() - t_start < ctx.seconds:
        pass_wall = 0.0
        for name, write in r.sample(jobs, len(jobs)):
            attempted += 1
            path = os.path.join(out_root, f"{name}-{len(pass_walls)}")
            op = tracer.begin_op() if tracer else None
            first = len(tracer.spans) if tracer else 0
            try:
                t0 = time.perf_counter()
                with span("operators.build"):
                    df = QUERIES[name](spark, sf_dir)
                t1 = time.perf_counter()
                if write:
                    write_parquet(df, path)
                else:
                    with span("operators.exec"):
                        n = df.count()
                t2 = time.perf_counter()
            except Exception as e:  # a library bug: count it, keep the run going
                failures.add(f"{name}{' write' * write}", f"{type(e).__name__}: {e}")
                spark.catalog.clearCache()
                shutil.rmtree(path, ignore_errors=True)
                continue
            run = {"name": name, "write": write, "op": op, "build": t1 - t0,
                   "exec": t2 - t1, "wall": t2 - t0}
            if tracer is not None:
                run["persisted"] = jsc.getPersistentRDDs().size()
            spark.catalog.clearCache()
            if write:
                n = spark.read.parquet(path).count()
                run["mb"] = _du_mb(path)
                shutil.rmtree(path)
            if tracer is not None:
                tracer.collect_spark(first)
            if n != expected[name]:
                failures.add(f"{name}{' write' * write}", f"{n} rows vs DuckDB {expected[name]}")
            runs.append(run)
            pass_wall += run["wall"]
        pass_walls.append(pass_wall)
    measured_s = time.perf_counter() - t_start
    ctx.stop_tracer()
    rss = peak_rss_mb()
    spark.stop()

    n_pass = len(pass_walls)
    counts = [x for x in runs if not x["write"]]
    writes = [x for x in runs if x["write"]]
    report = {"operator_runs": len(jobs), "pass_walls": pass_walls,
              "write_pass_s": sum(x["wall"] for x in writes) / n_pass,
              "operators.cold_pass_s": warmup_s}
    layers = {}
    if ctx.tracer is not None:
        spark_ops = ctx.tracer.spark_by_op()
        layers = {
            "operators.build_s": sum(x["build"] for x in runs) / n_pass,
            "operators.exec_s": sum(x["exec"] for x in counts) / n_pass,
            "operators.persisted_rdds_left": statistics.mean(x["persisted"] for x in runs),
            "sources.write_parquet_s": sum(x["exec"] for x in writes) / n_pass,
            "sources.bytes_written_mb": sum(x["mb"] for x in writes) / n_pass,
        }
        for name in OPS:
            mine = [x for x in counts if x["name"] == name]
            layers[f"operators.{name}.wall_s"] = statistics.median(x["wall"] for x in mine)
            layers[f"operators.{name}.jobs"] = statistics.median(
                spark_ops[x["op"]].get("jobs", 0.0) for x in mine)
        layers.update(_spark_means([spark_ops[x["op"]] for x in runs]))
    walls = [x["wall"] * 1e3 for x in runs]
    return ctx.result(setups, warmup_s, walls, pass_walls, rss, measured_s,
                      attempted, failures, report, layers)
