"""The shape of one LSH call (operators/dedup.py:minhash_lsh_candidates,
lsh_band_index, incremental_lsh_candidates): a signature/band shape
that would drop hashes is rejected at call time, and each call computes
its documents' signature in one map stage, also over a cached input with
AQE on, where exchange reuse does not dedupe the join sides."""

import pytest

from test_superstep import _stage_tasks
from texting_robots_spark.operators.dedup import (
    incremental_lsh_candidates,
    lsh_band_index,
    minhash_lsh_candidates,
    minhash_signature,
)
from texting_robots_spark.sources.local import local_frame

# a partition count no shuffle stage of the session (8 partitions) can
# have: the stages that run this many tasks are the ones that scan the
# cached documents, i.e. compute their signature
_DOC_SLICES = 11


def _docs(spark):
    rows = []
    for g in range(12):
        body = " ".join(f"w{g}t{i}" for i in range(30))
        rows += [(f"{g:02d}{m}", body + f" tail{m}") for m in range(4)]
    return spark.createDataFrame(rows, "doc_id string, text string")


_BAD_SHAPES = [
    (4, 3),  # a partial band: the 4th hash was silently ignored
    (4, 8),  # a band wider than the signature
    (5, 1),  # more hashes than permutation constants
    (0, 1),
    (4, 0),
]


@pytest.mark.parametrize("n_hashes, band_size", _BAD_SHAPES)
def test_lsh_shapes_that_drop_hashes_are_rejected(spark, n_hashes, band_size):
    docs = _docs(spark)
    index = local_frame(spark, "doc_id string, band int, bucket bigint")
    sig = minhash_signature(docs)
    calls = [
        lambda: minhash_lsh_candidates(docs, n_hashes=n_hashes, band_size=band_size),
        lambda: lsh_band_index(sig, n_hashes=n_hashes, band_size=band_size),
        lambda: incremental_lsh_candidates(
            docs, index, n_hashes=n_hashes, band_size=band_size
        ),
    ]
    for call in calls:
        with pytest.raises(ValueError, match="n_hashes"):
            call()


def test_lsh_whole_band_shapes_are_accepted(spark):
    docs = _docs(spark)
    for n_hashes, band_size in [(4, 4), (4, 1), (3, 3), (2, 1), (1, 1)]:
        assert minhash_lsh_candidates(docs, n_hashes=n_hashes, band_size=band_size).count()


def _signature_stages(spark, fn):
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    n, tasks = _stage_tasks(spark, fn)
    assert n > 0
    return tasks.count(_DOC_SLICES)


@pytest.mark.parametrize("cap", [None, 3])
def test_lsh_pairs_compute_the_signature_once(spark, cap):
    docs = _docs(spark).repartition(_DOC_SLICES).cache()
    docs.count()
    try:
        stages = _signature_stages(
            spark, lambda: minhash_lsh_candidates(docs, max_bucket_size=cap).count()
        )
    finally:
        docs.unpersist()
    assert stages == 1


@pytest.mark.parametrize("cap", [None, 3])
def test_incremental_lsh_computes_the_batch_signature_once(spark, cap):
    docs = _docs(spark)
    old = docs.where(docs.doc_id.endswith("0"))
    rows = lsh_band_index(minhash_signature(old)).collect()
    base = local_frame(
        spark,
        "doc_id string, band int, bucket bigint",
        {c: [r[c] for r in rows] for c in ("doc_id", "band", "bucket")},
    )
    new = docs.where(~docs.doc_id.endswith("0")).repartition(_DOC_SLICES).cache()
    new.count()
    try:
        stages = _signature_stages(
            spark,
            lambda: incremental_lsh_candidates(new, base, max_bucket_size=cap).count(),
        )
    finally:
        new.unpersist()
    assert stages == 1


def test_capped_incremental_lsh_reads_a_lazy_base_once(spark):
    """With a cap, the base side's per-bucket size and representative
    come from the same read of the base index as the bucket join: a
    lazy base index over cached documents computes its signature in one
    map stage, where an aggregate joined back to the base ran it twice."""
    docs = _docs(spark)
    old = docs.where(docs.doc_id.endswith("0")).repartition(_DOC_SLICES).cache()
    old.count()
    base = lsh_band_index(minhash_signature(old))
    new = docs.where(~docs.doc_id.endswith("0"))
    try:
        stages = _signature_stages(
            spark,
            lambda: incremental_lsh_candidates(new, base, max_bucket_size=3).count(),
        )
    finally:
        old.unpersist()
    assert stages == 1
