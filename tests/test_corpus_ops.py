"""Quality gates for the round-4 corpus operators (x57-x60).

Each has a full value-hashed oracle (scripts/diffcheck.py); these tests
pin the SEMANTIC invariants the oracle can't see — distance
preservation for the projection, symmetry/bounds for the containment
matrix, normalization for the mixture weights — plus the plan-shape
guarantees the docstrings claim.
"""

from __future__ import annotations

import math

from ask_duckdb_spark.operators import QUERIES
from tests.conftest import SF_DIR_001


def test_x57_rarity_bounds_and_totals(spark):
    rows = QUERIES["x57_bigram_rarity"](spark, SF_DIR_001).collect()
    assert rows, "x57 empty"
    for r in rows:
        assert 0 <= r.rare_cnt <= r.n_bigrams
        assert math.isclose(r.rare_ratio, r.rare_cnt / r.n_bigrams)


def test_x58_projection_preserves_distances(spark):
    """JL property: squared distances under the 8-dim +-1 projection
    (scaled by 1/dims) are an unbiased, positively-correlated estimate
    of the exact 64-dim squared distances. Top-k overlap is NOT a fair
    gate here — the synthetic embeddings are near-uniform, so even a
    numpy-random 8-dim projection recovers <=2 of the exact top-10;
    distance preservation is the property the construction guarantees.
    Fully deterministic: fixed data, fixed matrix, seeded pair sample.
    """
    import duckdb

    rows = QUERIES["x58_random_projection"](spark, SF_DIR_001).collect()
    assert len(rows) == 500
    proj = {r.vec_id: [r[f"p{j}"] for j in range(8)] for r in rows}
    exact = {
        vid: emb
        for vid, emb in duckdb.sql(
            f"SELECT vec_id, embedding FROM "
            f"'{SF_DIR_001}/embeddings.parquet'"
        ).fetchall()
    }

    import random

    rng = random.Random(0)
    ids = sorted(proj)
    ratios, xs, ys = [], [], []
    for _ in range(1500):
        a, b = rng.sample(ids, 2)
        de = sum((x - y) ** 2 for x, y in zip(exact[a], exact[b]))
        dp = sum((x - y) ** 2 for x, y in zip(proj[a], proj[b])) / 8.0
        ratios.append(dp / de)
        xs.append(de)
        ys.append(dp)
    mean_ratio = sum(ratios) / len(ratios)
    assert 0.8 < mean_ratio < 1.2, f"biased estimator: {mean_ratio}"
    mx, my = sum(xs) / len(xs), sum(ys) / len(ys)
    cov = sum((x - mx) * (y - my) for x, y in zip(xs, ys))
    vx = sum((x - mx) ** 2 for x in xs)
    vy = sum((y - my) ** 2 for y in ys)
    corr = cov / math.sqrt(vx * vy)
    assert corr > 0.15, f"projection uncorrelated with geometry: {corr}"


def test_x58_zero_shuffle_plan(spark):
    plan = QUERIES["x58_random_projection"](
        spark, SF_DIR_001
    )._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, "x58 must be a narrow map"


def test_x59_containment_symmetric_shared_and_bounded(spark):
    rows = QUERIES["x59_source_overlap"](spark, SF_DIR_001).collect()
    assert rows, "x59 vacuous"
    shared = {(r.src_a, r.src_b): r.shared_grams for r in rows}
    for (a, b), s in shared.items():
        assert shared[(b, a)] == s, "intersection must be symmetric"
    for r in rows:
        assert 0.0 < r.containment <= 1.0


def test_x60_weights_normalized_and_flattened(spark):
    rows = QUERIES["x60_mixture_weights"](spark, SF_DIR_001).collect()
    assert len(rows) == 20
    total = sum(r.weight for r in rows)
    assert math.isclose(total, 1.0, abs_tol=2e-5)  # ROUND(…,6) x 20 rows
    # alpha<1 up-weights small sources: every source's weight exceeds
    # what a proportional (alpha=1) rule would give it iff it is
    # smaller than average; with equal-sized sources weights are equal.
    n_total = sum(r.n_docs for r in rows)
    for r in rows:
        prop = r.n_docs / n_total
        if r.n_docs < n_total / len(rows):
            assert r.weight > prop


def test_x61_gopher_rules_invariants(spark):
    """Bounds, internal consistency of the passes flag, and a
    brute-force re-derivation of the top-bigram mode for a sample
    (the run-length scan vs a Counter — two independent algorithms)."""
    from collections import Counter

    rows = (
        QUERIES["x61_gopher_quality_rules"](spark, SF_DIR_001)
        .collect()
    )
    assert rows, "x61 returned no rows"
    seen_pass = seen_fail = False
    for r in rows:
        assert r.n_words >= 2
        assert 0.0 < r.mean_word_len
        assert 0.0 <= r.alpha_frac <= 1.0
        assert 0.0 < r.top_bigram_frac <= 1.0
        expected = (
            50 <= r.n_words <= 100000
            and 3 <= r.mean_word_len <= 10
            and r.alpha_frac > 0.8
            and r.top_bigram_frac < 0.2
        )
        assert r.passes_gopher == expected
        seen_pass |= expected
        seen_fail |= not expected
    assert seen_pass and seen_fail, "gate is vacuous on the fixture"

    docs = {
        d.doc_id: d.text
        for d in spark.read.parquet(f"{SF_DIR_001}/documents.parquet")
        .select("doc_id", "text")
        .limit(25)
        .collect()
    }
    by_id = {r.doc_id: r for r in rows}
    for doc_id, text in docs.items():
        toks = [t for t in text.lower().split() if t]
        if len(toks) < 2:
            assert doc_id not in by_id
            continue
        bigrams = Counter(zip(toks, toks[1:]))
        want = max(bigrams.values()) / (len(toks) - 1)
        assert math.isclose(
            by_id[doc_id].top_bigram_frac, round(want, 6), abs_tol=1e-9
        )


def test_x61_zero_shuffle_plan(spark):
    from ask_duckdb_spark.plans import checks

    assert (
        checks.num_shuffles(
            QUERIES["x61_gopher_quality_rules"](spark, SF_DIR_001)
        )
        == 0
    )


def test_x138_padding_waste_matches_python_and_sorted_dominates(spark):
    """x138 semantic pin beyond the oracle: (a) per-source padded totals
    re-derived in pure Python from the same tokenizer (truncate, chunk,
    pad-to-batch-max); (b) sorted batching NEVER wastes more than
    arrival order — sorted chunking achieves the rank lower bound on
    every batch max, so its padded total is minimal for fixed B."""
    import pandas as pd

    from ask_duckdb_spark.operators import QUERIES
    from ask_duckdb_spark.operators.textstats import PAD_BATCH, PAD_MAX_LEN
    from tests.conftest import SF_DIR_001

    out = {r["source"]: r for r in QUERIES["x138_padding_waste"](spark, SF_DIR_001).collect()}
    assert out, "fixture must have sources"

    tbl = pd.read_parquet(
        f"{SF_DIR_001}/documents.parquet", columns=["doc_id", "source", "text"]
    ).sort_values("doc_id")

    def padded_total(lens):
        return sum(
            max(chunk) * len(chunk)
            for chunk in (
                lens[i : i + PAD_BATCH] for i in range(0, len(lens), PAD_BATCH)
            )
        )

    for src, grp in tbl.groupby("source"):
        lens = [
            min(len(t.lower().split()), PAD_MAX_LEN) for t in grp["text"]
        ]
        r = out[src]
        assert r["real_tokens"] == sum(lens)
        assert r["padded_arrival"] == padded_total(lens)
        assert r["padded_sorted"] == padded_total(
            sorted(lens, reverse=True)
        )
        assert r["waste_sorted_ppm"] <= r["waste_arrival_ppm"]
        assert 0 <= r["waste_sorted_ppm"] <= 1_000_000


def test_x139_dedup_savings_consistent_with_clusters(spark):
    """x139 semantic pin: the histogram must re-derive exactly from the
    x29 cluster assignment + token counts (docs_removed = size-1 per
    cluster; tokens_saved = total minus the label member's tokens;
    keeping the label member means savings < total)."""
    from collections import Counter

    from ask_duckdb_spark.operators import QUERIES
    from tests.conftest import SF_DIR_001

    cc = {
        r["doc_id"]: r["cluster"]
        for r in QUERIES["x29_dedup_clusters"](spark, SF_DIR_001).collect()
    }
    assert cc, "fixture plants near-dups"
    sizes = Counter(Counter(cc.values()).values())  # size -> n_clusters
    out = {r["cluster_size"]: r for r in QUERIES["x139_dedup_savings"](spark, SF_DIR_001).collect()}
    assert {s: r["n_clusters"] for s, r in out.items()} == dict(sizes)
    for s, r in out.items():
        assert r["n_docs"] == s * r["n_clusters"]
        assert r["docs_removed"] == (s - 1) * r["n_clusters"]
        assert 0 <= r["tokens_saved"] < r["tokens_total"]


def test_x140_incremental_equals_full_recompute(spark):
    """x140's manifest + star-contraction + batch-edges path must be
    row-identical to x29's full recompute (same oracle pins both; this
    pins them against each other directly), and the fixture must
    actually exercise the incremental machinery: batch pairs exist and
    some component mixes established and batch docs (a real merge)."""
    from pyspark.sql import functions as F

    from ask_duckdb_spark.operators import QUERIES
    from ask_duckdb_spark.operators.dedup import x2_minhash_neardup
    from tests.conftest import SF_DIR_001

    full = [tuple(r) for r in QUERIES["x29_dedup_clusters"](spark, SF_DIR_001).collect()]
    inc = [tuple(r) for r in QUERIES["x140_incremental_components"](spark, SF_DIR_001).collect()]
    assert inc == full

    d = spark.read.parquet(f"{SF_DIR_001}/documents.parquet")
    cut = d.agg(
        F.expr("CAST((max(doc_id)*4) DIV 5 AS BIGINT)").alias("c")
    ).first().c
    pairs = [
        (r.id_a, r.id_b)
        for r in x2_minhash_neardup(spark, SF_DIR_001)
        .select("id_a", "id_b")
        .collect()
    ]
    assert any(a < cut and b < cut for a, b in pairs), "old graph non-empty"
    assert any(a >= cut or b >= cut for a, b in pairs), "batch edges exist"
    comp: dict[int, list[int]] = {}
    for doc, c in inc:
        comp.setdefault(c, []).append(doc)
    assert any(
        any(v >= cut for v in vs) and any(v < cut for v in vs)
        for vs in comp.values()
    ), "no component mixes manifest and batch docs — merge path unexercised"


def test_incremental_components_update_library_path(spark):
    """The library form of the incremental ingest (the flat-wall path
    SCALE.md r10/r11 measure — 2.38x at 500k docs on the quiet-host
    baseline): banded_signature_index over the OLD docs +
    manifest over the OLD pair graph, then incremental_components_update
    with the 20% batch must reproduce x29's full-recompute labels
    exactly. Unlike x140's registry form (which rebuilds state in-op),
    this drives the user-facing API the trial script times."""
    from pyspark.sql import functions as F

    from ask_duckdb_spark.operators import QUERIES
    from ask_duckdb_spark.operators.dedup import (
        banded_signature_index,
        connected_components,
        incremental_components_update,
        neardup_pairs,
    )
    from tests.conftest import SF_DIR_001

    d = spark.read.parquet(f"{SF_DIR_001}/documents.parquet")
    cut = d.agg(
        F.expr("CAST((max(doc_id)*4) DIV 5 AS BIGINT)").alias("c")
    ).first().c
    old_docs = d.filter(F.col("doc_id") < cut)
    batch = d.filter(F.col("doc_id") >= cut)

    index = banded_signature_index(old_docs)
    # Manifest from an OLD-DOCS-ONLY ingest (ADVICE r9): filtering
    # full-corpus x2 pairs to old ids would inherit the full path's
    # MAX_BUCKET decisions and could never contain the old-old
    # connectivity the cap caveat is about — this is the state a
    # production pipeline actually owns.
    old_pairs = neardup_pairs(index, "doc_id").select("id_a", "id_b")
    manifest = connected_components(old_pairs)

    upd = incremental_components_update(batch, index, manifest)
    got = sorted((r.v, r.label) for r in upd.collect())
    manifest.unpersist()
    upd.unpersist()

    want = sorted(
        (r.doc_id, r.cluster)
        for r in QUERIES["x29_dedup_clusters"](spark, SF_DIR_001).collect()
    )
    assert got == want


def test_incremental_merges_old_components_through_batch_doc(spark):
    """The contraction's hardest case, pinned BY CONSTRUCTION: one
    batch doc near-dups members of TWO distinct old components, so the
    r11 contract-then-solve path must merge the components through the
    contracted graph (label1 — batch — label2) and relabel BOTH old
    components to the global min. The fixture corpora never exercise
    this (measured r11: zero batch docs touch >= 2 old components at
    sf0.01), so the real-data identity gates alone would let a
    contraction bug here ship silently.

    Construction: shared word block S plus unique blocks A/B sized so
    shingle Jaccard(S+A, S+B) ~ 0.29 (old components stay separate)
    while the batch doc S+A+B reads ~ 0.65 / 0.56 against them (edges
    to both)."""
    from ask_duckdb_spark.operators.dedup import (
        banded_signature_index,
        connected_components,
        incremental_components_update,
        neardup_pairs,
    )

    def block(p):
        return [f"{p}{i}" for i in range(24)]

    s, a, b = block("s"), block("a"), block("b")
    t1, t2, z = " ".join(s + a), " ".join(s + b), " ".join(s + a + b)
    old = spark.createDataFrame(
        [(1, t1), (2, t1), (3, t2), (4, t2)], "doc_id long, text string"
    )
    batch = spark.createDataFrame([(100, z)], "doc_id long, text string")

    index = banded_signature_index(old)
    manifest = connected_components(
        neardup_pairs(index, "doc_id").select("id_a", "id_b")
    )
    man = {r.v: r.label for r in manifest.collect()}
    # Precondition: exactly the two intended old components.
    assert man == {1: 1, 2: 1, 3: 3, 4: 3}, man

    upd = incremental_components_update(batch, index, manifest)
    got = {r.v: r.label for r in upd.collect()}
    manifest.unpersist()
    upd.unpersist()
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 100: 1}, got

    # And the answer is identical to a full recompute over old ∪ batch.
    full = connected_components(
        neardup_pairs(
            banded_signature_index(old.unionByName(batch)), "doc_id"
        ).select("id_a", "id_b")
    )
    want = {r.v: r.label for r in full.collect()}
    full.unpersist()
    assert got == want


def test_incremental_cap_boundary_divergence(spark):
    """VERDICT r9 item 5: pin the documented MAX_BUCKET boundary
    behavior instead of leaving it prose. Construct a bucket that
    crosses the cap only once the batch lands (MAX_BUCKET identical
    old docs + 5 identical new ones): the full recompute drops the
    bucket wholesale — its old-old pairs and their connectivity are
    GONE — while the incremental path keeps the manifest's old
    component intact and (correctly) adds no new edges. The
    incremental answer is the more faithful one; this is the one
    regime where the two legitimately diverge (dedup.py docstring,
    SCALE.md r9)."""
    from pyspark.sql import functions as F

    from ask_duckdb_spark.operators.dedup import (
        MAX_BUCKET,
        _banded,
        banded_signature_index,
        connected_components,
        incremental_components_update,
        minhash_signatures,
        neardup_pairs,
    )

    text = " ".join(f"tok{j}" for j in range(12))
    n_old, n_batch = MAX_BUCKET, 5
    old = spark.createDataFrame(
        [(i, text) for i in range(n_old)], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [(n_old + i, text) for i in range(n_batch)],
        "doc_id long, text string",
    )

    # Old-only ingest: every band bucket holds exactly MAX_BUCKET
    # members — at the cap, kept — so the old docs form one component.
    index = banded_signature_index(old)
    old_edges = neardup_pairs(index, "doc_id").select("id_a", "id_b")
    manifest = connected_components(old_edges)
    man_rows = sorted((r.v, r.label) for r in manifest.collect())
    assert len(man_rows) == n_old
    assert {label for _, label in man_rows} == {0}

    # Full recompute over old ∪ batch: the same buckets now hold
    # MAX_BUCKET + 5 members, over the cap — dropped before any pair
    # exists. The old connectivity is lost wholesale.
    all_docs = old.unionByName(batch)
    full_edges = neardup_pairs(
        _banded(minhash_signatures(all_docs, "doc_id", "text"), "doc_id"),
        "doc_id",
    )
    assert full_edges.count() == 0, "cap did not bind — fixture broken"

    # Incremental: the probe sees the same over-cap buckets (no new
    # edges) but the manifest stars retain the old component exactly.
    upd = incremental_components_update(batch, index, manifest)
    got = sorted((r.v, r.label) for r in upd.collect())
    manifest.unpersist()
    upd.unpersist()
    assert got == man_rows


def test_incremental_update_rejects_reingested_ids(spark):
    """The batch-ids-must-be-new contract (ADVICE r9): with
    assert_new_ids=True, a batch id already present in the index or
    the manifest raises instead of silently pairing stale signatures."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from ask_duckdb_spark.operators.dedup import (
        banded_signature_index,
        connected_components,
        incremental_components_update,
        neardup_pairs,
    )
    from tests.conftest import SF_DIR_001

    d = spark.read.parquet(f"{SF_DIR_001}/documents.parquet")
    cut = d.agg(
        F.expr("CAST((max(doc_id)*4) DIV 5 AS BIGINT)").alias("c")
    ).first().c
    old_docs = d.filter(F.col("doc_id") < cut)
    index = banded_signature_index(old_docs)
    manifest = connected_components(
        neardup_pairs(index, "doc_id").select("id_a", "id_b")
    )
    # A "batch" that re-ingests existing docs violates the contract.
    stale_batch = old_docs.limit(3)
    with _pytest.raises(ValueError, match="must be new"):
        incremental_components_update(
            stale_batch, index, manifest, assert_new_ids=True
        )
    # A genuinely-new batch passes the guard and still reproduces the
    # full-recompute labels (the guard must not perturb the pipeline).
    batch = d.filter(F.col("doc_id") >= cut)
    upd = incremental_components_update(
        batch, index, manifest, assert_new_ids=True
    )
    from ask_duckdb_spark.operators import QUERIES

    got = sorted((r.v, r.label) for r in upd.collect())
    want = sorted(
        (r.doc_id, r.cluster)
        for r in QUERIES["x29_dedup_clusters"](spark, SF_DIR_001).collect()
    )
    manifest.unpersist()
    upd.unpersist()
    assert got == want


def test_banded_index_bucketed_probe_exchange_free(spark):
    """VERDICT r9 item 4: banded_signature_index's own 100 TB claim —
    "store this bucketed by (band, bucket) so an ingest probe is a
    co-located join, not a full index scan" — proven through STORAGE.
    The index is written bucketed by (band, bucket) via
    sources/bucketing.py, read back from the catalog, and the
    touched-bucket left-semi probe (the exact shape
    incremental_components_update plans) must shuffle ONLY the
    batch-sized touched frame: the index side reads its buckets with
    zero Exchange. Broadcast is pinned off so bucket co-location (not
    a small-side broadcast) is what carries the property — at real
    index volume the probe side is the only thing that moves."""
    from pyspark.sql import functions as F

    from ask_duckdb_spark.operators.dedup import (
        _banded,
        banded_signature_index,
        connected_components,
        incremental_components_update,
        minhash_signatures,
        neardup_pairs,
    )
    from ask_duckdb_spark.plans.checks import formatted_plan, num_shuffles
    from ask_duckdb_spark.sources.bucketing import (
        bucketed_join_ready,
        write_bucketed,
    )
    from tests.conftest import SF_DIR_001

    d = spark.read.parquet(f"{SF_DIR_001}/documents.parquet")
    cut = d.agg(
        F.expr("CAST((max(doc_id)*4) DIV 5 AS BIGINT)").alias("c")
    ).first().c
    old_docs = d.filter(F.col("doc_id") < cut)
    batch = d.filter(F.col("doc_id") >= cut)

    index = banded_signature_index(old_docs)
    # Sizing rule (measured, Spark 4.1): a ONE-sided bucketed join only
    # skips the bucketed side's exchange when n_buckets matches the
    # join parallelism — at 8 buckets vs 32 shuffle partitions the
    # planner re-shuffled the index side anyway ("Bucketed: false
    # (disabled by query planner)"). Size the index's bucket count to
    # the cluster's shuffle parallelism.
    n_buckets = int(spark.conf.get("spark.sql.shuffle.partitions"))
    write_bucketed(
        index, "banded_idx_b", ["band", "bucket"], n_buckets=n_buckets
    )
    try:
        assert bucketed_join_ready(spark, "banded_idx_b")
        idx_b = spark.table("banded_idx_b")
        bands_new = _banded(
            minhash_signatures(batch, "doc_id", "text"), "doc_id"
        )
        touched = bands_new.select("band", "bucket").dropDuplicates()

        keys = (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
        )
        prev = {k: spark.conf.get(k) for k in keys}
        for k in keys:
            spark.conf.set(k, "-1")
        try:
            probe_b = idx_b.join(touched, ["band", "bucket"], "left_semi")
            probe_f = index.join(touched, ["band", "bucket"], "left_semi")
            nb, nf = num_shuffles(probe_b), num_shuffles(probe_f)
            nt = num_shuffles(touched)
            # The exact claim: the bucketed index side adds ZERO
            # exchanges — every shuffle in the probe plan is one the
            # batch-sized touched frame already owns (its dedup
            # exchange doubles as the join alignment). The flat
            # control pays index-side exchanges on top (join
            # alignment + minhash's widen repartition).
            assert nb == nt, (
                f"bucketed={nb} touched-only={nt}\n" + formatted_plan(probe_b)
            )
            assert nf > nb, f"flat={nf} should exceed bucketed={nb}"
            assert "Bucketed: true" in formatted_plan(probe_b)
        finally:
            for k, v in prev.items():
                spark.conf.set(k, v)

        # Read-back parity: the bucketed probe returns the same rows.
        got_rows = sorted(
            (r.doc_id, r.band, r.bucket)
            for r in probe_b.select("doc_id", "band", "bucket").collect()
        )
        want_rows = sorted(
            (r.doc_id, r.band, r.bucket)
            for r in probe_f.select("doc_id", "band", "bucket").collect()
        )
        assert got_rows == want_rows and got_rows

        # End-to-end through the library path: the persisted-index
        # update reproduces the in-memory-index labels exactly.
        manifest = connected_components(
            neardup_pairs(index, "doc_id").select("id_a", "id_b")
        )
        upd_b = incremental_components_update(batch, idx_b, manifest)
        got = sorted((r.v, r.label) for r in upd_b.collect())
        upd_b.unpersist()
        upd_f = incremental_components_update(batch, index, manifest)
        want = sorted((r.v, r.label) for r in upd_f.collect())
        manifest.unpersist()
        upd_f.unpersist()
        assert got == want and got
    finally:
        spark.sql("DROP TABLE IF EXISTS banded_idx_b")
