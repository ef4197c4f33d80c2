"""Display sink: truncation protocol parity (reference: query_db.py:20-51)."""

from __future__ import annotations

import io
import uuid

from ask_duckdb_spark.sources.display import display_result, result_preview


def _preview_jobs(spark, df, **kw):
    """result_preview's return value and the number of Spark jobs it ran,
    read through a job group of its own."""
    sc = spark.sparkContext
    group = f"preview-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "result_preview job budget")
    try:
        out = result_preview(df, **kw)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job-start events reach the status store through the async listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_preview_under_cap_exact_count_single_job(spark):
    (total, pdf), jobs = _preview_jobs(
        spark, spark.range(0, 10, 1, 4), max_rows=100
    )
    assert total == 10 and len(pdf) == 10
    assert jobs == 1


def test_preview_truncates_at_cap(spark):
    # one max_rows+1 fetch, then the count: under AQE its shuffle map
    # stage over the four partitions and the final aggregate are two jobs
    (total, pdf), jobs = _preview_jobs(
        spark, spark.range(0, 25, 1, 4), max_rows=10
    )
    assert total == 25 and len(pdf) == 10
    assert jobs == 3


def test_preview_no_count_when_disabled(spark):
    (total, pdf), jobs = _preview_jobs(
        spark, spark.range(0, 25, 1, 4), max_rows=10, count=False
    )
    assert total is None and len(pdf) == 10
    assert jobs == 1


def test_display_format(spark):
    buf = io.StringIO()
    shown = display_result(spark.range(3), max_rows=10, file=buf)
    out = buf.getvalue()
    assert shown == 3
    assert "=== Query result (3 rows) ===" in out
    assert "truncated" not in out


def test_display_truncation_notice(spark):
    buf = io.StringIO()
    display_result(spark.range(30), max_rows=5, file=buf)
    out = buf.getvalue()
    assert "=== Query result (30 rows) ===" in out
    assert "... truncated to first 5 rows ..." in out


def test_display_rows_fallback(spark):
    from ask_duckdb_spark.sources.display import display_rows

    buf = io.StringIO()
    shown = display_rows(spark.range(3), max_rows=10, file=buf)
    out = buf.getvalue()
    assert shown == 3
    assert "=== Query result (3 rows) ===" in out
    assert "id" in out.splitlines()[1]

    buf = io.StringIO()
    display_rows(spark.range(30), max_rows=5, file=buf)
    out = buf.getvalue()
    assert "(>5 rows)" in out and "truncated to first 5" in out


def test_display_empty(spark):
    buf = io.StringIO()
    shown = display_result(spark.range(0), max_rows=5, file=buf)
    assert shown == 0
    assert "Empty DataFrame" in buf.getvalue()
