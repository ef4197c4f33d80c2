"""Streaming near-dup ingest (streaming/neardup.py) vs the batch rule.

The stream sees the fixture corpus in three id-ordered micro-batches;
the surviving set must equal the batch fast-path rule exactly: drop b
for every signature-estimated pair a < b (est >= 0.5) over the WHOLE
corpus. This holds because every pair is found either in-batch (both
sides in one tercile) or cross-batch (later doc probes the band store
that already holds the earlier doc), and id-ordered batches make
"earlier batch" == "lower id".
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

import pytest

from ask_duckdb_spark.operators import QUERIES
from ask_duckdb_spark.sources.catalog import load_table
from ask_duckdb_spark.streaming.neardup import (
    neardup_ingest,
    start_neardup_ingest,
)
from tests.conftest import SF_DIR_001


def _batch_reference_kept(spark, docs) -> set[int]:
    """The batch rule over the registry's fast-path pairs (x2f): every
    id_b of a pair is dropped."""
    dropped = {
        r.id_b
        for r in QUERIES["x2f_minhash_neardup_fast"](spark, SF_DIR_001)
        .select("id_b")
        .collect()
    }
    return {r.doc_id for r in docs.select("doc_id").collect()} - dropped


def test_streaming_ingest_matches_batch_rule(spark, tmp_path):
    docs = load_table(spark, SF_DIR_001, "documents").select("doc_id", "text")
    lo, hi = docs.agg(F.min("doc_id"), F.max("doc_id")).first()
    cut1, cut2 = lo + (hi - lo) // 3, lo + 2 * (hi - lo) // 3

    # three id-ordered arrival files, mtime-ordered so the file source
    # processes them oldest-first, one per micro-batch
    src = tmp_path / "src"
    src.mkdir()
    terciles = [
        docs.filter(F.col("doc_id") <= cut1),
        docs.filter((F.col("doc_id") > cut1) & (F.col("doc_id") <= cut2)),
        docs.filter(F.col("doc_id") > cut2),
    ]
    for i, part in enumerate(terciles):
        d = str(src / f"b{i}")
        part.coalesce(1).write.parquet(d)
        os.utime(d, (1_000_000 + i, 1_000_000 + i))
        for f in os.listdir(d):
            os.utime(os.path.join(d, f), (1_000_000 + i, 1_000_000 + i))

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/b*")
    )
    q = start_neardup_ingest(spark, stream, str(tmp_path / "work"))
    q.awaitTermination(180)

    kept_stream = {
        r.doc_id
        for r in spark.read.parquet(str(tmp_path / "work" / "kept")).collect()
    }
    kept_ref = _batch_reference_kept(spark, docs)
    assert kept_stream == kept_ref
    assert len(kept_ref) < docs.count(), "vacuous: nothing was deduped"

    # the band store must cover every document ever seen (kept AND
    # dropped): a dropped copy still shadows future copies
    store_ids = {
        r.doc_id
        for r in spark.read.parquet(str(tmp_path / "work" / "store"))
        .select("doc_id")
        .distinct()
        .collect()
    }
    assert store_ids == {r.doc_id for r in docs.select("doc_id").collect()}


@pytest.mark.parametrize("junk", ["junk", "zz-junk"])
def test_corrupt_store_raises_and_releases_cache(spark, tmp_path, junk):
    """Only a MISSING band store reads as "no store yet". A store that
    exists but cannot be read (one foreign file next to the parquet
    parts) must raise — read as empty, it would silently keep an exact
    copy of an earlier batch's document — and the batch's persisted
    signatures must be released on that path. Parquet schema inference
    reads the first file in path order: "junk" sorts before the
    ``part-`` files and fails the store read; "zz-junk" sorts after, so
    the read succeeds and the failure surfaces in the write job, after
    the signature cache was built."""
    text = " ".join(f"tok{i}" for i in range(30))

    def doc(i):
        return spark.createDataFrame([(i, text)], "doc_id long, text string")

    store, out = str(tmp_path / "store"), str(tmp_path / "kept")
    neardup_ingest(spark, doc(1), store, out, batch_id=0)
    # Control: against the clean store, a copy of doc 1 is dropped.
    neardup_ingest(spark, doc(2), store, out, batch_id=1)
    assert spark.read.parquet(f"{out}/batch_id=1").count() == 0

    (tmp_path / "store" / junk).write_bytes(b"not a parquet file")
    persisted = spark.sparkContext._jsc.getPersistentRDDs  # noqa: SLF001
    before = len(persisted())
    with pytest.raises(Exception):
        neardup_ingest(spark, doc(3), store, out, batch_id=2)
    assert len(persisted()) == before
