"""Property gate for the near-dup pair kernel (dedup.neardup_pairs).

The collect_list + in-bucket pair generation must emit EXACTLY the rows
the previous self-join formulation emitted: all (id_a < id_b) pairs
sharing at least one (band, bucket), excluding members of buckets wider
than MAX_BUCKET, with signature-estimated Jaccard >= 0.5. The reference
here is an independent brute-force over the banded frame computed with
plain DataFrame ops — no shared code path with the production pairing
beyond ``_banded`` and the estimator ``_sig_est`` itself.
"""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from ask_duckdb_spark.operators.dedup import (
    MAX_BUCKET,
    _banded,
    _sig_est,
    minhash_signatures,
    neardup_pairs,
)


def kernel_rows(sig) -> set:
    """The kernel's (id_a, id_b, jaccard_est) rows over a doc_id
    signature frame."""
    return {
        (r.id_a, r.id_b, r.jaccard_est)
        for r in neardup_pairs(_banded(sig, "doc_id"), "doc_id").collect()
    }


def reference_rows(sig, id_col: str = "doc_id") -> set:
    """Self-join reference: the pre-r5 formulation plus the estimate
    threshold, kept as the oracle. (id_a, id_b, jaccard_est) rows."""
    bands = _banded(sig, id_col)
    counts = bands.groupBy("band", "bucket").count().filter(
        F.col("count") <= MAX_BUCKET
    )
    kept = bands.join(counts.select("band", "bucket"), ["band", "bucket"])
    a = kept.select(
        F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a"),
        "band", "bucket",
    )
    b = kept.select(
        F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b"),
        "band", "bucket",
    )
    df = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .select(
            "id_a",
            "id_b",
            _sig_est(F.col("sig_a"), F.col("sig_b")).alias("jaccard_est"),
        )
        .filter(F.col("jaccard_est") >= 0.5)
    )
    return {(r.id_a, r.id_b, r.jaccard_est) for r in df.collect()}


def _corpus(spark, seed: int, n_docs: int):
    """Random corpus with deliberate near-dup structure: base texts plus
    mutated copies (word dropped / appended), plus boilerplate clones to
    exercise the MAX_BUCKET path when n_docs is large enough."""
    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(30)]
    rows = []
    doc_id = 0
    while doc_id < n_docs:
        base = [rng.choice(vocab) for _ in range(rng.randint(6, 18))]
        rows.append((doc_id, " ".join(base)))
        doc_id += 1
        if doc_id < n_docs and rng.random() < 0.5:  # near-dup copy
            mut = list(base)
            if rng.random() < 0.5 and len(mut) > 6:
                mut.pop(rng.randrange(len(mut)))
            else:
                mut.append(rng.choice(vocab))
            rows.append((doc_id, " ".join(mut)))
            doc_id += 1
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_pairing_matches_selfjoin_reference(spark):
    for seed in (7, 23, 91):
        docs = _corpus(spark, seed, 120)
        sig = minhash_signatures(docs, "doc_id", "text").persist()
        got = kernel_rows(sig)
        want = reference_rows(sig)
        sig.unpersist()
        assert got == want, f"seed {seed}: {got ^ want}"
        assert want, f"seed {seed}: vacuous reference pair set"


def test_pairing_drops_degenerate_buckets(spark):
    # 200 identical docs -> every band bucket has 200 members, all
    # above MAX_BUCKET: the pair set must be EMPTY (skew guard), and
    # must come back once the clone count is within the cap.
    clones = spark.createDataFrame(
        [(i, "the same boilerplate text repeated") for i in range(200)],
        ["doc_id", "text"],
    )
    sig = minhash_signatures(clones, "doc_id", "text").persist()
    assert kernel_rows(sig) == set()
    sig.unpersist()

    few = spark.createDataFrame(
        [(i, "the same boilerplate text repeated") for i in range(5)],
        ["doc_id", "text"],
    )
    sig2 = minhash_signatures(few, "doc_id", "text").persist()
    assert len(kernel_rows(sig2)) == 10  # C(5,2)
    sig2.unpersist()
