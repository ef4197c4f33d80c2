"""Gates for the r13 optimization round's plan reshapes.

Each test pins the PLAN property the optimization bought (or the exact
result equality of a rewritten internal), so a regression that quietly
reintroduces the old shape fails here rather than in the bench.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import functions as F

from ask_duckdb_spark.operators import QUERIES
from ask_duckdb_spark.plans import checks
from tests.conftest import SF_DIR, SF_DIR_001


def _broadcast_inputs(plan: str) -> list[str]:
    """The ``Input [n]: [...]`` line of every BroadcastExchange block."""
    out = []
    for m in re.finditer(r"\(\d+\) BroadcastExchange\nInput \[\d+\]: \[([^\]]*)\]", plan):
        out.append(m.group(1))
    return out


def test_fact_table_never_broadcast(spark):
    """q3/q5/q10 (r13 fact-first reshape): no BroadcastExchange may
    carry lineitem columns. The old dim-first shapes made Catalyst's
    product-of-children size estimate balloon past lineitem's file
    size, so the planner broadcast the FACT table — wrong at every
    scale. The reshape keeps lineitem the streamed side; this pin
    fails if any future edit reintroduces a fact broadcast."""
    for name in (
        "q3_shipping_priority",
        "q5_local_supplier_volume",
        "q10_returned_items",
    ):
        plan = checks.formatted_plan(QUERIES[name](spark, SF_DIR))
        for cols in _broadcast_inputs(plan):
            assert not re.search(r"\bl_\w+#", cols), (
                f"{name}: lineitem columns on a broadcast side: {cols}"
            )


def test_x2_est_early_path_matches_sig_carrying_path(spark):
    """x2's pair kernel (estimate projected right after the pair
    explode, threshold, scalar-only dedup) must produce exactly the
    rows of the independent sig-carrying reference (bucket self-join,
    dedup on the signatures, then estimate and threshold) on the sf0.01
    documents."""
    from ask_duckdb_spark.operators.dedup import minhash_signatures
    from tests.test_lsh_pairing import kernel_rows, reference_rows

    docs = spark.read.parquet(f"{SF_DIR_001}/documents.parquet").select(
        "doc_id", "text"
    )
    sig = minhash_signatures(docs, "doc_id", "text").persist()
    try:
        got = kernel_rows(sig)
        want = reference_rows(sig)
    finally:
        sig.unpersist()
    assert got == want
    assert want, "vacuous pair set"


def test_x2_pair_dedup_is_hash_not_sort_aggregate(spark):
    """The scalar-only pair dedup must plan as HashAggregate — the old
    sig-carrying dedup fell back to SortAggregate (array columns have
    no fixed-width agg buffer), paying two extra Sorts of the pair
    frame."""
    plan = checks.formatted_plan(QUERIES["x2_minhash_neardup"](spark, SF_DIR))
    assert "SortAggregate" not in plan, plan


def test_x136_shuffle_budget_and_broadcast_side(spark):
    """x136 (r13 reshape): the training gram stream is probed where it
    is produced — the eval side is the (sole) broadcast, and the old
    pre-join ``tr.distinct()`` full shuffle of the 90% gram stream is
    gone. Shuffles left: the two-level distinct-count rollup over HIT
    rows + the final order-by."""
    df = QUERIES["x136_eval_leak_report"](spark, SF_DIR)
    plan = checks.formatted_plan(df)
    assert len(re.findall(r"\(\d+\) BroadcastExchange", plan)) == 1, plan
    assert checks.num_shuffles(df) <= 3, plan


def test_x20_vectorized_decode_matches_reference_rowwise():
    """The r13 vectorized byte-mean (concatenated buffer + reduceat)
    must be bit-identical to the old per-row Python reference,
    including empty and single-byte payloads."""
    import math

    import numpy as np

    from ask_duckdb_spark.operators.multimodal import _decode_batches

    payloads = [b"", b"\x00", b"\xff", b"abc", b"\x80" * 64, bytes(range(256))]
    pdf = pd.DataFrame(
        {"doc_id": list(range(len(payloads))), "payload": payloads}
    )
    (got,) = list(_decode_batches(iter([pdf])))

    def ref_mean(b: bytes) -> float:
        return math.floor(float(sum(b)) / max(len(b), 1) * 1e6 + 0.5) / 1e6

    for i, b in enumerate(payloads):
        n = len(b)
        assert got.loc[i, "width"] == n % 64 + 1
        assert got.loc[i, "height"] == n // 64 % 64 + 1
        assert got.loc[i, "n_frames"] == n % 7 + 1
        gb = np.float64(got.loc[i, "mean_byte"]).view(np.uint64)
        rb = np.float64(ref_mean(b)).view(np.uint64)
        assert gb == rb, (i, b, got.loc[i, "mean_byte"], ref_mean(b))
