"""Metric definitions: name, unit, and the end-to-end metric each layer moves.

``BENCHMARK.json`` lists the same names; ``test_perfbench.py`` keeps the two
in step. ``--trace 0`` prints every end-to-end metric, ``--trace 1`` every
per-layer metric; a layer that does no work on a workload reads 0 there.
"""

from __future__ import annotations

from .workloads import OPS

#: name -> (unit, better, bound, meaning). Every workload reports each one.
END_TO_END = {
    "setup_s": ("s", "lower", 0.25,
                "median of 3 set-ups: get_spark + view registration + one warm-up job"),
    "op_p50_ms": ("ms", "lower", 0.25,
                  "median wall of one operation: a CLI request (question or SQL to "
                  "printed rows), or one operator build + count (or + full write)"),
    # the highest percentile with about ten samples beyond it in a run of
    # pipeline_sf01 (32 operator runs); ask_mix has ~75 requests
    "op_p75_ms": ("ms", "lower", 0.25, "75th percentile of the same"),
    "pass_s": ("s", "lower", 0.25,
               "median wall of one pass over the workload's operations"),
}

_ASK = "ask_mix: op_p50_ms, op_p75_ms"
_PIPE = "pipeline_sf01: pass_s, op_p50_ms, op_p75_ms"
_ALL_SETUP = "all: setup_s"

#: name -> (unit, better, the end-to-end metric it should move, on which workload)
PER_LAYER = {
    "session.cold_setup_s": ("s", "lower", "none: the first set-up, JVM start included"),
    "session.get_spark_s": ("s", "lower", _ALL_SETUP),
    "sources.register_views_s": ("s", "lower", _ALL_SETUP),
    "warmup_s": ("s", "lower", "none: the untimed first pass of the workload"),
    "sources.open_source_ms": ("ms", "lower", _ASK),
    "cli.ask_self_ms": ("ms", "lower", _ASK),
    "cli.sql_self_ms": ("ms", "lower", _ASK),
    "sources.display_ms": ("ms", "lower", _ASK),
    "sources.display_jobs": ("count", "lower", _ASK),
    "sources.display_truncated_frac": ("frac", "lower", _ASK),
    "introspect.schema_ms": ("ms", "lower", _ASK),
    "nl.context_ms": ("ms", "lower", _ASK),
    "nl.prompt_ms": ("ms", "lower", _ASK),
    "nl.llm_ms": ("ms", "lower", _ASK),
    "nl.repair_ms": ("ms", "lower", _ASK),
    "nl.gate_ms": ("ms", "lower", _ASK),
    "nl.shim_ms": ("ms", "lower", _ASK),
    "nl.repair_changed_frac": ("frac", "lower", _ASK),
    "spark.sql_analyze_ms": ("ms", "lower", _ASK),
    "duckdb.sql_p50_ms": ("ms", "lower", "none: the reference's own path, co-timed"),
    "spark.jobs": ("count", "lower", f"{_ASK}; {_PIPE}"),
    "spark.stages": ("count", "lower", f"{_ASK}; {_PIPE}"),
    "spark.tasks": ("count", "lower", f"{_ASK}; {_PIPE}"),
    "spark.executor_run_s": ("s", "lower", f"{_ASK}; {_PIPE}"),
    "spark.executor_cpu_s": ("s", "lower", f"{_ASK}; {_PIPE}"),
    "spark.run_minus_cpu_s": ("s", "lower", f"{_ASK}; {_PIPE}"),
    "spark.shuffle_write_mb": ("MB", "lower", f"{_ASK}; {_PIPE}"),
    "spark.spill_mb": ("MB", "lower", f"{_ASK}; {_PIPE}"),
    "operators.build_s": ("s", "lower", _PIPE),
    "operators.exec_s": ("s", "lower", _PIPE),
    "peak_rss_mb": ("MB", "lower", "none: summed VmHWM of Python, the JVM and its workers"),
    "operators.persisted_rdds_left": ("count", "lower", "pipeline_sf01: peak_rss_mb"),
    "sources.write_parquet_s": ("s", "lower", _PIPE),
    "sources.bytes_written_mb": ("MB", "lower", _PIPE),
    "trace.overhead_frac": ("frac", "lower", "none: tracer bookkeeping / traced wall"),
}
for _name in OPS:
    PER_LAYER[f"operators.{_name}.wall_s"] = ("s", "lower", "pipeline_sf01: pass_s")
    PER_LAYER[f"operators.{_name}.jobs"] = ("count", "lower", "pipeline_sf01: pass_s")
