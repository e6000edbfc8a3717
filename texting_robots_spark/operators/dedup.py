"""Deduplication operators for training-data pipelines over ``documents``.

Four families, from exact to fuzzy (all deterministic, all built from
native Spark expressions unless noted):

- exact:     hash-groupBy on the full text (md5) — one shuffle on the
             digest, map-side combine applies.
- n-gram Jaccard: token-shingle set similarity for candidate pairs.
- MinHash+LSH: per-doc signature (k permutations over shingle hashes) ->
             band buckets -> bucket join yields candidate pairs without
             the O(n^2) cross join; Jaccard verify on candidates.
- SimHash:   64-bit weighted-bit fingerprint; near-dups = small Hamming
             distance, found via band join on fingerprint slices.

Scale notes: every pair-finding path is bucket-join shaped (shuffle on a
band/bucket key), never a cross join; signatures are fixed-width columns
so the shuffle payload is O(rows), not O(rows x text).
"""

from __future__ import annotations

import logging
from typing import List, Optional, Sequence, Tuple

import pandas as pd

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType, StringType
from pyspark.sql.window import Window

from ..sizing import sized_shuffle_scope
from ..sources.local import local_frame

__all__ = [
    "exact_dedup_groups",
    "tokenize",
    "shingles",
    "jaccard_pairs",
    "minhash_signature",
    "minhash_lsh_candidates",
    "lsh_band_index",
    "incremental_lsh_candidates",
    "simhash",
    "simhash_near_dups",
    "capped_bucket_pairs",
    "connected_components",
    "resolve_duplicates",
]

_LOG = logging.getLogger(__name__)


def capped_bucket_pairs(
    keyed: DataFrame,
    id_col: str,
    bucket_cols: Sequence[str],
    carry: Tuple[str, ...] = (),
    max_bucket_size: Optional[int] = None,
    on_oversize: str = "collapse",
) -> DataFrame:
    """Bucket self-join -> candidate pairs, with a hot-bucket safety
    valve (VERDICT r5 #1 — the one remaining 100-TB scale-killer).

    ``keyed`` holds one row per (member, bucket): columns ``id_col``,
    every ``bucket_cols`` entry, plus any ``carry`` columns to ride
    along. Output: (id_a, id_b, [<c>_a/<c>_b per carry]) with
    id_a < id_b, deduped across buckets.

    The un-capped self-join emits ~m^2/2 pairs from a bucket with m
    members. Boilerplate-heavy web corpora routinely put 10^5-10^6
    near-identical documents into ONE band bucket, i.e. 10^10-10^12
    intermediate pairs out of a single bucket — AQE skew-split spreads
    the shuffle but cannot shrink that output cardinality. With
    ``max_bucket_size`` set, buckets above the cap are handled by
    ``on_oversize`` and the output gains a ``via_representative``
    boolean (no silent caps — the capped edges are marked IN the data,
    and the configuration is logged):

    - 'collapse' (default): a saturated bucket emits ``m-1`` star
      edges to its min-``id_col`` representative instead of pairwise
      edges. Members of a saturated MinHash/SimHash band bucket agree
      on that whole band by construction, so the star preserves the
      connected components of the candidate graph (what dedup grouping
      consumes) while bounding per-bucket output at O(m). Pairwise
      verify stages see member<->representative edges for those
      buckets; a pair can still surface pairwise through its other,
      unsaturated bands.
    - 'drop': saturated buckets emit nothing. Recall for their members
      then rides entirely on their other bands/tables — the right mode
      when bucket membership alone implies little (e.g. hyperplane LSH
      buckets, where a saturated bucket is low-information).

    A pair found BOTH pairwise (some small bucket) and via a
    representative keeps via_representative=false. Plan shape: one
    map-side-combinable size aggregate + joins all keyed on the bucket
    columns — no new skew point; the per-bucket output is bounded by
    max(cap^2/2, m-1).

    Eager: ``keyed`` is repartitioned on the bucket columns and
    materialized once (``localCheckpoint``) at call time, before any
    consumer. Every self-join side, size aggregate and star join then
    reads that one copy, so the upstream MinHash/SimHash signature
    pipeline runs once per call. Exchange reuse does not give this:
    with AQE on, an exchange above a cached input (an
    ``InMemoryRelation``) is planned, and run, once per join side. The
    materialized rows are the narrow (id, buckets, carry) index — the
    bucket-join shuffle the docstring promises — never the document
    text."""
    _check_cap(max_bucket_size, on_oversize)
    return _bucket_pairs(
        keyed.repartition(*bucket_cols).localCheckpoint(eager=True),
        id_col,
        bucket_cols,
        carry,
        max_bucket_size,
        on_oversize,
    )


def _check_cap(max_bucket_size: Optional[int], on_oversize: str = "collapse") -> None:
    if on_oversize not in ("collapse", "drop"):
        raise ValueError(f"unknown on_oversize: {on_oversize!r}")
    if max_bucket_size is not None and int(max_bucket_size) < 2:
        raise ValueError(f"max_bucket_size must be >= 2, got {max_bucket_size}")


def _bucket_pairs(
    index: DataFrame,
    id_col: str,
    bucket_cols: Sequence[str],
    carry: Tuple[str, ...],
    max_bucket_size: Optional[int],
    on_oversize: str,
) -> DataFrame:
    """capped_bucket_pairs over its materialized, bucket-partitioned
    index."""
    buckets = list(bucket_cols)

    def _side(df: DataFrame, suffix: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(f"id_{suffix}"),
            *[F.col(c).alias(f"{c}_{suffix}") for c in carry],
            *buckets,
        )

    out_cols = (
        ["id_a", "id_b"]
        + [f"{c}_a" for c in carry]
        + [f"{c}_b" for c in carry]
    )
    if max_bucket_size is None:
        return (
            _side(index, "a")
            .join(_side(index, "b"), buckets)
            .where(F.col("id_a") < F.col("id_b"))
            .select(*out_cols)
            .distinct()
        )
    cap = int(max_bucket_size)
    _LOG.info(
        "capped_bucket_pairs: buckets over %d members are %sd "
        "(capped edges carry via_representative=true)",
        cap,
        on_oversize,
    )
    sizes = index.groupBy(*buckets).agg(F.count("*").alias("_bsz"))
    sized = index.join(sizes, buckets)
    small = sized.where(F.col("_bsz") <= cap)
    pairs = (
        _side(small, "a")
        .join(_side(small, "b"), buckets)
        .where(F.col("id_a") < F.col("id_b"))
        .select(*out_cols)
        .withColumn("via_representative", F.lit(False))
    )
    if on_oversize == "collapse":
        big = sized.where(F.col("_bsz") > cap)
        # deterministic representative: min over (id, carry...) structs
        # — the bucket's smallest id (ids are expected unique per doc)
        reps = big.groupBy(*buckets).agg(
            F.min(F.struct(F.col(id_col), *[F.col(c) for c in carry])).alias(
                "_rep"
            )
        )
        star = (
            big.join(reps, buckets)
            .where(F.col(id_col) != F.col(f"_rep.{id_col}"))
            .select(
                F.col(f"_rep.{id_col}").alias("id_a"),
                F.col(id_col).alias("id_b"),
                *[F.col(f"_rep.{c}").alias(f"{c}_a") for c in carry],
                *[F.col(c).alias(f"{c}_b") for c in carry],
            )
            .withColumn("via_representative", F.lit(True))
        )
        pairs = pairs.unionByName(star)
    # dedup across bands/buckets; pairwise evidence beats representative
    return pairs.groupBy(*out_cols).agg(
        (F.min(F.col("via_representative").cast("int")) == 1).alias(
            "via_representative"
        )
    )

# deterministic odd constants for minhash permutations h_i(x) = a_i*x + b_i
_MH_A = [0x9E3779B1 | 1, 0x85EBCA77 | 1, 0xC2B2AE3D | 1, 0x27D4EB2F | 1]
_MH_B = [0x165667B1, 0xD3A2646C, 0xFD7046C5, 0xB55A4F09]
_MERSENNE = (1 << 61) - 1


def _check_lsh_shape(n_hashes: int, band_size: int) -> None:
    """Reject a signature/band shape that would drop hashes: at most
    one permutation per ``_MH_A`` constant, and whole bands only."""
    if not 1 <= n_hashes <= len(_MH_A):
        raise ValueError(f"n_hashes must be in [1, {len(_MH_A)}], got {n_hashes}")
    if band_size < 1 or n_hashes % band_size:
        raise ValueError(
            f"band_size={band_size} must be >= 1 and divide n_hashes={n_hashes}"
        )

# single source of truth for the word-shingle width: shingles() and BOTH
# minhash_signature base-hash branches derive from this, so the xxhash64
# fast path and the md5 oracle twin can never silently sketch different
# shingle widths (round-3 ADVICE finding).
SHINGLE_WIDTH = 3


def tokenize(text_col) -> Column:
    """Whitespace tokenization with empties dropped (both engines agree)."""
    return F.filter(F.split(text_col, r"\s+"), lambda t: t != F.lit(""))


def shingles(text_col, n: int = SHINGLE_WIDTH) -> Column:
    """Distinct word n-gram shingles of the text (native, no UDF).

    Built with O(1) ``get`` lookups per shingle — a per-index ``slice``
    would copy O(len) per shingle and turn long documents quadratic.
    ``get`` returns null out-of-bounds (no ANSI error) and concat_ws
    skips nulls, which reproduces the short-document behavior.
    """
    toks = tokenize(text_col)
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    return F.array_distinct(
        F.transform(
            idx,
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        )
    )


def exact_dedup_groups(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact-duplicate groups: digest, group size, canonical (min) doc id.

    md5 is used (not xxhash64) so the DuckDB oracle computes the identical
    digest. One hash-aggregate; partial aggregation happens map-side.
    """
    return (
        docs.select(F.col(id_col), F.md5(F.col(text_col)).alias("digest"))
        .groupBy("digest")
        .agg(
            F.count("*").alias("n_docs"),
            F.min(id_col).alias("canonical_id"),
        )
    )


def jaccard_pairs(
    pairs: DataFrame, left_text: str = "text_a", right_text: str = "text_b"
) -> DataFrame:
    """Token-set Jaccard for pre-paired rows (native set algebra)."""
    a = F.array_distinct(tokenize(F.col(left_text)))
    b = F.array_distinct(tokenize(F.col(right_text)))
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return pairs.withColumn(
        "jaccard",
        F.round(F.when(union > 0, inter / union).otherwise(F.lit(0.0)), 6),
    )


def base_hash_expr(col, base_hash: str = "xxhash64") -> Column:
    """Deterministic int64 hash of a string column.

    ``xxhash64`` (default): JVM-side, fastest — the production path.
    ``md5``: first 15 hex chars of md5 as a 60-bit non-negative int —
    byte-identical in DuckDB (``CAST('0x'||substr(md5(s),1,15) AS
    BIGINT)``), which makes every sketch built on it oracle-checkable.
    """
    if base_hash == "xxhash64":
        return F.xxhash64(col)
    if base_hash == "md5":
        return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")
    raise ValueError(f"unknown base_hash: {base_hash!r}")


def minhash_signature(
    docs: DataFrame,
    text_col: str = "text",
    n_hashes: int = 4,
    base_hash: str = "xxhash64",
    shingle_n: int = SHINGLE_WIDTH,
) -> DataFrame:
    """Add ``minhash`` array<long>: min over shingles of a_i*h(s)+b_i.

    The base shingle hash is JVM-side; the permutation arithmetic runs
    as native expressions over the shingle array — no Python in the loop.

    Two base-hash forms (same sketch structure, different hash):

    - ``xxhash64`` (production): each token is hashed to int64 ONCE,
      then the n adjacent token hashes per shingle are combined with one
      more multi-arg xxhash64. No shingle string is ever concatenated
      and no ``array_distinct`` runs — min over duplicate shingles
      equals min over distinct shingles, so the dedup is free to skip.
      Measured ~10x the concat_ws+distinct form at sf0.1 (NOTES_r3).
    - ``md5``: the original string-shingle form, kept bit-identical so
      the DuckDB oracle (driver ``minhash_lsh_pairs`` query) replays the
      whole pipeline.

    The token/shingle hash arrays are materialized as intermediate
    columns so the n_hashes transforms reuse them instead of re-inlining
    (and re-computing) the tokenize/shingle expression per hash.
    """
    # keep the base hash in [0, 2^31) so a_i*h + b_i stays inside int64
    # under ANSI arithmetic (a_i < 2^32, h < 2^31 -> product < 2^63)
    if base_hash == "xxhash64":
        _n = shingle_n
        staged = docs.withColumn(
            "_th", F.transform(tokenize(F.col(text_col)), lambda t: F.xxhash64(t))
        )
        idx = F.sequence(
            F.lit(0), F.greatest(F.size(F.col("_th")) - _n, F.lit(0))
        )
        staged = staged.withColumn(
            "_mh_base",
            F.transform(
                idx,
                lambda i: F.pmod(
                    F.xxhash64(*[F.get(F.col("_th"), i + j) for j in range(_n)]),
                    F.lit((1 << 31) - 1),
                ),
            ),
        ).drop("_th")
    else:
        staged = docs.withColumn(
            "_mh_base",
            F.transform(
                shingles(F.col(text_col), shingle_n),
                lambda s: F.pmod(base_hash_expr(s, base_hash), F.lit((1 << 31) - 1)),
            ),
        )
    sig = F.array(
        *[
            F.array_min(
                F.transform(
                    F.col("_mh_base"),
                    lambda h: (F.lit(_MH_A[i]) * h + F.lit(_MH_B[i]))
                    % F.lit(_MERSENNE),
                )
            )
            for i in range(n_hashes)
        ]
    )
    return staged.withColumn("minhash", sig).drop("_mh_base")


def lsh_band_index(
    sig: DataFrame,
    id_col: str = "doc_id",
    n_hashes: int = 4,
    band_size: int = 2,
    base_hash: str = "xxhash64",
) -> DataFrame:
    """Explode a ``minhash_signature`` output into its LSH band index:
    one row per (``id_col``, ``band``, ``bucket``). This is the
    PERSISTABLE dedup artifact — store it partitioned by band and a
    crawl only ever recomputes the index for NEW documents
    (``incremental_lsh_candidates``), never re-shingling the archived
    corpus. With ``base_hash='md5'`` the bucket stays the raw band
    string (DuckDB-reproducible); production uses one more xxhash64
    for an 8-byte bucket key. ``band_size`` must divide ``n_hashes``
    (1 <= n_hashes <= 4), or ValueError: a partial band would drop
    hashes."""
    _check_lsh_shape(n_hashes, band_size)
    n_bands = n_hashes // band_size

    def _bucket(b: int) -> Column:
        joined = F.concat_ws(
            ",",
            *[
                F.element_at("minhash", b * band_size + j + 1).cast("string")
                for j in range(band_size)
            ],
        )
        return joined if base_hash == "md5" else F.xxhash64(joined)

    return sig.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), _bucket(b).alias("bucket"))
                    for b in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select(id_col, "bb.band", "bb.bucket")


def minhash_lsh_candidates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 4,
    band_size: int = 2,
    base_hash: str = "xxhash64",
    max_bucket_size: Optional[int] = None,
    on_oversize: str = "collapse",
) -> DataFrame:
    """Candidate near-dup pairs via LSH banding (id_a < id_b, distinct).

    ``max_bucket_size`` is the hot-bucket safety valve: an un-capped
    band bucket with m members emits ~m^2/2 pairs, and web-scale
    boilerplate routinely saturates single buckets with 10^5-10^6
    near-identical docs. When set, saturated buckets are collapsed to
    star edges on their min-id representative (or dropped) and the
    output gains a ``via_representative`` marker — see
    capped_bucket_pairs for semantics. Members of a saturated MinHash
    bucket share that whole band signature, so star edges preserve the
    candidate graph's connected components. Default None keeps the
    exact pairwise behavior.

    Each band of the minhash signature becomes a bucket key; a self-join
    per bucket (shuffle on the band hash, never a cross join) yields
    candidates; callers verify with ``jaccard_pairs``. With
    ``base_hash='md5'`` the bucket key stays the raw band string (wider
    shuffle key, but DuckDB-reproducible end to end). The band index is
    materialized once per call (see capped_bucket_pairs), so the
    signature runs once. Shapes as in lsh_band_index.
    """
    _check_lsh_shape(n_hashes, band_size)
    sig = minhash_signature(
        docs.select(id_col, text_col), text_col, n_hashes, base_hash
    )
    bands = lsh_band_index(sig, id_col, n_hashes, band_size, base_hash)
    return capped_bucket_pairs(
        bands,
        id_col,
        ["band", "bucket"],
        max_bucket_size=max_bucket_size,
        on_oversize=on_oversize,
    )


def _simhash_kernel(hs_values, bits: int):
    """One-pass numpy bit-vote over a batch of token-hash arrays.

    ``hs_values``: sequence of int64 arrays (one per doc; None for NULL
    text). Semantics are exactly the native expression form's: bit b of
    the fingerprint is set iff 2 * count(tokens with bit b set) >=
    n_tokens — including the empty-doc case (0 >= 0), where every bit
    votes 1, and NULL text, where size(NULL) = -1 makes every vote fail
    (fingerprint 0).
    """
    import numpy as np

    n = len(hs_values)
    out = np.empty(n, dtype=np.int64)
    lens = np.fromiter(
        (-1 if x is None else len(x) for x in hs_values), dtype=np.int64, count=n
    )
    out[lens < 0] = 0
    empty_fp = -1 if bits == 64 else (1 << bits) - 1
    out[lens == 0] = empty_fp
    nz = np.flatnonzero(lens > 0)
    if len(nz):
        arrs = [np.asarray(hs_values[i], dtype=np.int64) for i in nz]
        flat = np.concatenate(arrs).view(np.uint64)
        starts = np.zeros(len(arrs), dtype=np.int64)
        np.cumsum(lens[nz][:-1], out=starts[1:])
        lens_nz = lens[nz].astype(np.uint64)
        fp = np.zeros(len(nz), dtype=np.int64)
        one = np.uint64(1)
        for b in range(bits):
            ones = np.add.reduceat((flat >> np.uint64(b)) & one, starts)
            fp |= (np.uint64(2) * ones >= lens_nz).astype(np.int64) << b
        out[nz] = fp
    return out


def simhash(
    docs: DataFrame,
    text_col: str = "text",
    bits: int = 64,
    base_hash: str = "xxhash64",
    impl: str = "numpy",
) -> DataFrame:
    """Add ``simhash`` long: per-token bit-vote fingerprint.

    The base token hash is JVM-side either way (``base_hash='md5'``
    gives the DuckDB-reproducible variant; use bits<=60 with it — the
    md5-derived base hash is 60 bits wide, see base_hash_expr).

    impl='numpy' (default): the bit-vote runs as ONE vectorized pandas
    UDF over the token-hash arrays (np.add.reduceat per bit-plane) —
    measured ~2x faster than the expression form at sf0.1, where 64
    separate F.filter passes dominate. impl='native' keeps the pure
    Catalyst expression twin (bit-identical output; it also documents
    the semantics the DuckDB oracle replays).
    """
    toks = F.transform(
        tokenize(F.col(text_col)), lambda t: base_hash_expr(t, base_hash)
    )
    if impl == "numpy":
        from pyspark.sql import types as T

        @F.pandas_udf(T.LongType())
        def _fp(hs: pd.Series) -> pd.Series:
            return pd.Series(_simhash_kernel(hs.to_numpy(), bits))

        return docs.withColumn("simhash", _fp(toks))
    if impl != "native":
        raise ValueError(f"unknown impl: {impl!r}")
    total = F.size(toks)
    fingerprint = F.lit(0).cast("long")
    for b in range(bits):
        ones = F.size(
            F.filter(toks, lambda h: F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1)
        )
        bit = F.when(ones * 2 >= total, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        # bitwise shift+or (no ANSI overflow, bit 63 included)
        fingerprint = fingerprint.bitwiseOR(F.shiftleft(bit, b))
    return docs.withColumn("simhash", fingerprint)


def simhash_near_dups(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 8,
    n_bands: int | None = None,
    max_bucket_size: Optional[int] = None,
    on_oversize: str = "collapse",
) -> DataFrame:
    """Near-dup pairs by SimHash: band join on fingerprint slices, then
    exact Hamming verify.

    Recall guarantee (pigeonhole): a pair at hamming distance ``d`` has
    at most ``d`` bands containing a differing bit, so with
    ``n_bands > max_hamming`` at least one band is identical and the
    band join finds every pair with hamming <= max_hamming — the output
    is COMPLETE up to max_hamming, not a sample. ``n_bands`` defaults to
    ``max_hamming + 1`` and values <= max_hamming are rejected (they
    would silently miss pairs whose differing bits spread across all
    bands). The last band absorbs the 64 % n_bands remainder bits.

    ``max_bucket_size`` is the hot-bucket safety valve (see
    capped_bucket_pairs): a saturated band bucket emits star edges to
    its min-id representative (or nothing, on_oversize='drop') instead
    of ~m^2/2 pairs, each still Hamming-verified, and the output gains
    ``via_representative``. NOTE the completeness guarantee above then
    weakens for pairs ALL of whose agreeing bands are saturated: they
    surface only via representative edges within max_hamming. Members
    of a saturated bucket agree on that band's bits by construction, so
    the star keeps every member attached to a representative within
    band distance 0. Default None keeps the complete pairwise output."""
    if n_bands is None:
        n_bands = max_hamming + 1
    if n_bands <= max_hamming:
        raise ValueError(
            f"n_bands={n_bands} <= max_hamming={max_hamming}: the band join "
            f"would miss pairs (pigeonhole needs n_bands > max_hamming)"
        )
    if n_bands > 64:
        raise ValueError(f"n_bands={n_bands} > 64 bits")
    fp = simhash(docs.select(id_col, text_col), text_col)
    width = 64 // n_bands

    def _chunk(b: int):
        # band b covers bits [b*width, (b+1)*width); the last band is
        # widened to cover the remainder so all 64 bits are banded
        w = width if b < n_bands - 1 else 64 - (n_bands - 1) * width
        return (
            F.shiftrightunsigned("simhash", b * width)
            .bitwiseAND(F.lit((1 << w) - 1) if w < 64 else F.lit(-1))
            .alias("chunk")
        )

    bands = fp.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), _chunk(b))
                    for b in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select(id_col, "simhash", "bb.band", "bb.chunk")
    pairs = capped_bucket_pairs(
        bands,
        id_col,
        ["band", "chunk"],
        carry=("simhash",),
        max_bucket_size=max_bucket_size,
        on_oversize=on_oversize,
    ).withColumnsRenamed({"simhash_a": "fp_a", "simhash_b": "fp_b"})
    hamming = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return pairs.withColumn("hamming", hamming).where(
        F.col("hamming") <= max_hamming
    )


def _edge(hi: str, lo: str) -> Column:
    """One (hi, lo) edge struct, for emitting several edges per row."""
    return F.struct(F.col(hi).alias("hi"), F.col(lo).alias("lo"))


def connected_components(
    pairs: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components of a candidate-pair graph -> one row per
    non-isolated node: (``node``, ``component``) with ``component`` =
    the minimum node id in its component. This is the step that turns
    dedup candidate PAIRS into dedup GROUPS (transitive closure:
    A~B, B~C puts A and C in one group even though LSH never paired
    them directly).

    Algorithm: alternating large-star / small-star contraction
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC 2014 — the standard shuffle-based CC for engines without
    graph libraries). Each round is two groupBy-min + join passes over
    the edge list; the edge set converges to per-component stars in
    O(log n) rounds regardless of component diameter — a 10^4-long
    near-dup chain (consecutive crawl snapshots) resolves in ~14
    rounds where naive min-label propagation needs 10^4. Per round the
    shuffle key is the node id, payload two ids per edge: O(edges)
    bytes; the rounds collect nothing and keep no driver state beyond a
    convergence fingerprint (count + hash-sum, an Observation on the round's
    checkpoint, so a round is one job set with no separate aggregate
    job). Node ids order by their natural type ordering; any total
    order works — min is just a canonical representative.

    A graph the planner would broadcast skips the rounds: when the
    distinct edges (their count, observed on the edge checkpoint, times
    the edge row's default size) fit
    ``spark.sql.autoBroadcastJoinThreshold``, and the ids are strings
    or integers (whose Python order is Spark's), the edges are
    collected and resolved by union-find on the driver, and the result
    is a driver-side ``local_frame``: one collect job instead of a job
    set per round. The count is observed, not estimated — a cached
    input's plan estimate can be stale. A threshold of -1, or a larger
    graph, runs the rounds. ``max_iter`` must be >= 1 (ValueError).

    The rounds run inside sized_shuffle_scope over ``pairs``: a few
    thousand pairs run one task per stage, where a task, not a row, is
    the unit of cost; a 10^10-edge graph (or pairs the planner cannot
    size) keeps the session's fan-out. Output does not depend on it.

    Components at web scale are near-dup clusters: typically tiny, but
    boilerplate can chain millions of docs into one component — star
    contraction keeps even that case O(edges log n) with bounded
    per-round skew (the representative's degree grows, which is
    exactly the AQE skew-join shape; the hot key carries 2 ids/row).
    """
    if max_iter < 1:
        raise ValueError(f"max_iter must be >= 1, got {max_iter}")
    spark = pairs.sparkSession
    # canonical undirected edges (hi, lo), self-loops dropped
    hi = F.greatest(F.col(src_col), F.col(dst_col)).alias("hi")
    lo = F.least(F.col(src_col), F.col(dst_col)).alias("lo")
    with sized_shuffle_scope(spark, pairs):
        # NOTE: checkpointed eagerly, before round 0. The lazy persist
        # this replaced left the pairs -> distinct subtree inside round
        # 0's plan: round 0's checkpoint ran 28 jobs to round 1's 7. On
        # fleet_dedup's 3,591 pairs (4 cores) the eager checkpoint, the
        # observed fingerprint and the sized fan-out take the operator
        # from 39 jobs to 14 (2 + 6 per round, two rounds), warm wall
        # time from 3.3 s to 1.5 s and the dedup part's CPU from 12.6 s
        # to 8.6 s. On the sf0.1 resolve line of bench.py (lazy pairs)
        # best-of-3 went from 6.4/5.2 s to 3.0/3.3 s with identical
        # survivors: the round-7 finding that an eager fill loses (on
        # sf1.0, where the fill was a separate count job over a lazy
        # persist) does not hold for this shape at sf0.1 on 4 cores.
        size = Observation()
        edges = (
            pairs.select(hi, lo)
            .where(F.col("hi") != F.col("lo"))
            .distinct()
            .observe(size, F.count(F.lit(1)).alias("n"))
            .localCheckpoint(eager=True)
        )
        id_type = edges.schema["hi"].dataType
        threshold = spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
        if (
            isinstance(id_type, (ByteType, ShortType, IntegerType, LongType))
            or id_type == StringType()
        ) and size.get["n"] * edges._jdf.schema().defaultSize() <= threshold:
            # on fleet_dedup's 3,591 pairs (seed 3, 4 cores) this takes
            # the operator from 14 jobs to 3 and 1.58 s to 0.43 s
            comp = _union_find(edges.collect())
            t = id_type.simpleString()
            return local_frame(
                spark,
                f"node {t}, component {t}",
                {"node": list(comp), "component": list(comp.values())},
            )
        prev_fp = None
        for _ in range(max_iter):
            # large-star(E): symmetrize; every center u points its LARGER
            # neighbors v at m = min(Γ(u) ∪ {u}); edges stay (hi, lo)
            # because m <= u < v.
            # Plan shape (round 7): ONE explicit repartition on the center
            # key feeds both the min-aggregate and the join — exchange
            # reuse executes the upstream subtree once per round instead
            # of once per consumer (the old shape recomputed `dirs` for
            # the join side and the whole large-star pipeline twice inside
            # small-star: ~6 exchanges and duplicated joins per round, now
            # 3 exchanges). Both directions of an edge come out of one
            # generator over one scan, not a union of two: a union's
            # stage runs a task per partition of each branch, two tasks
            # where the sized fan-out asks for one.
            dirs = edges.select(
                F.inline(F.array(_edge("hi", "lo"), _edge("lo", "hi")))
            ).repartition("hi")
            mins = dirs.groupBy("hi").agg(
                F.least(F.min("lo"), F.first("hi")).alias("m")
            )
            # no mid-round distinct: duplicates here are a bounded
            # multiset (several centers pointing v at the same m) that the
            # min aggregate below ignores and the end-of-round distinct
            # collapses — dropping it removes a full (hi, lo) exchange per
            # round without changing the edge SET semantics the published
            # algorithm is defined on.
            large = (
                dirs.join(mins, "hi")
                .where(F.col("lo") > F.col("hi"))
                .select(F.col("lo").alias("hi"), F.col("m").alias("lo"))
                .where(F.col("hi") != F.col("lo"))
                .repartition("hi")
            )
            # small-star(large-star(E)) — sequential composition per the
            # published algorithm: edges already point larger -> smaller;
            # every center points its smaller neighbors AND itself at
            # their min. One generator emits both edges per joined row,
            # so a center's own edge repeats once per neighbor; the
            # distinct below (partial aggregation, map side) collapses it.
            mins2 = large.groupBy("hi").agg(F.min("lo").alias("m"))
            small = large.join(mins2, "hi").select(
                F.inline(F.array(_edge("lo", "m"), _edge("hi", "m")))
            )
            # order-independent edge-set fingerprint, collected by the
            # checkpoint job itself; pmod bounds each term so the sum
            # cannot overflow ANSI long arithmetic below ~4e9 edges
            obs = Observation()
            # localCheckpoint (eager) truncates lineage: the iterated plan
            # would otherwise grow geometrically (edges referenced 3x per
            # round) and OOM the planner after ~8 rounds. Driver-fault
            # recovery is not needed mid-operator — the input is
            # deterministic, a failed run reruns from pairs.
            edges = (
                small.where(F.col("hi") != F.col("lo"))
                .distinct()
                .observe(
                    obs,
                    F.count(F.lit(1)).alias("n"),
                    F.sum(F.pmod(F.xxhash64("hi", "lo"), F.lit(1 << 31))).alias("h"),
                )
                .localCheckpoint(eager=True)
            )
            vals = obs.get
            fp = (vals["n"], vals["h"])
            if fp == prev_fp:
                break
            prev_fp = fp
        else:
            # Downstream consumers (resolve_duplicates' left join) assume
            # one row per non-isolated node, which only per-component
            # stars guarantee — surface a max_iter exit loudly instead of
            # returning a silently-partial contraction (round-7 ADVICE).
            _LOG.warning(
                "connected_components: edge-set fingerprint did not converge "
                "within max_iter=%d rounds — output may not be per-component "
                "stars (multiple rows per node possible downstream). Re-run "
                "with a larger max_iter.",
                max_iter,
            )
    return edges.select(F.col("hi").alias("node"), F.col("lo").alias("component"))


def _union_find(edges) -> dict:
    """{node: min node of its component} for every node that is not
    that minimum, over an iterable of (a, b) edges."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:  # the smaller root wins, so every root is its set's min
            parent[max(ra, rb)] = min(ra, rb)
    roots = {n: find(n) for n in parent}
    return {n: r for n, r in roots.items() if n != r}


def resolve_duplicates(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """End of the dedup pipeline: candidate pairs -> components ->
    survivor per component. Adds ``component`` (min doc id of the
    near-dup group, own id for docs in no pair) and ``is_survivor``
    (true for exactly one doc per component — the min id, a
    deterministic RNG-free pick). Filtering ``is_survivor`` yields the
    deduplicated corpus; keeping all rows yields the group map for
    audit. The components run eagerly here, one job set per round at
    the fan-out ``pairs`` needs (see connected_components); the result
    is lazy: one broadcast-or-shuffle left join of docs against the
    (small: non-isolated nodes only) checkpointed component map, run by
    the caller's action at the session's fan-out."""
    comp = connected_components(pairs, src_col, dst_col, max_iter)
    out = (
        docs.join(comp, docs[id_col] == comp["node"], "left")
        .drop("node")
        .withColumn("component", F.coalesce("component", F.col(id_col)))
        .withColumn("is_survivor", F.col("component") == F.col(id_col))
    )
    return out


def incremental_lsh_candidates(
    new_docs: DataFrame,
    base_index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 4,
    band_size: int = 2,
    base_hash: str = "xxhash64",
    max_bucket_size: Optional[int] = None,
    new_index: Optional[DataFrame] = None,
) -> DataFrame:
    """Incremental dedup: candidate pairs for a NEW batch of documents
    against (a) itself and (b) a persisted ``lsh_band_index`` of the
    already-ingested corpus — without re-shingling, re-hashing, or
    re-pairing the archive. This is what makes LSH dedup sustainable
    on a rolling crawl: each round costs O(new) signature work plus a
    bucket join against the stored index, instead of O(corpus) — at
    100 TB the archive index is read partition-pruned on the band
    column while archive TEXT is never touched.

    Output: (``id_a``, ``id_b``, ``via_representative``, ``against``)
    where ``id_a`` is always the new document; ``against`` is 'new'
    (both sides new, ``id_a`` < ``id_b``) or 'base' (``id_b`` from the
    archive). The pair set equals exactly the full-corpus
    ``minhash_lsh_candidates`` output restricted to pairs touching a
    new document (property-tested). ``new_docs`` ids must be disjoint
    from the archive ids (the crawl's seen-set guarantees this).

    ``max_bucket_size`` caps both blowups: new-vs-new goes through
    ``capped_bucket_pairs``; for new-vs-base an oversized ARCHIVE
    bucket collapses to its min-id representative (members of a
    saturated band bucket agree on that band by construction), so a
    boilerplate-saturated archive bucket costs O(m_new) instead of
    O(m_new * m_base). A pair that also shares an unsaturated bucket
    keeps ``via_representative=false``, same convention as
    ``capped_bucket_pairs``.

    ``new_index`` (optional) is a precomputed ``lsh_band_index`` of the
    batch (same id_col/n_hashes/band_size/base_hash): callers that also
    PERSIST the batch's index (the streaming dedup writes it as the next
    epoch) pass it here so shingling+hashing — the dominant per-batch
    cost — runs once instead of twice (round-7 ADVICE).

    Eager like capped_bucket_pairs: the batch's index is shuffled on the
    band keys and materialized once at call time, and BOTH consumers
    (the new-vs-new self-join and the new-vs-base bucket join) read that
    copy, so the batch's signature runs once whatever AQE plans.
    """
    _check_lsh_shape(n_hashes, band_size)
    _check_cap(max_bucket_size)
    if new_index is None:
        sig = minhash_signature(
            new_docs.select(id_col, text_col), text_col, n_hashes, base_hash
        )
        new_index = lsh_band_index(sig, id_col, n_hashes, band_size, base_hash)
    new_index = new_index.repartition("band", "bucket").localCheckpoint(eager=True)

    nn = _bucket_pairs(
        new_index, id_col, ["band", "bucket"], (), max_bucket_size, "collapse"
    )
    if "via_representative" not in nn.columns:
        nn = nn.withColumn("via_representative", F.lit(False))
    nn = nn.withColumn("against", F.lit("new"))

    base = base_index.select(F.col(id_col).alias("__base_id"), "band", "bucket")
    if max_bucket_size is not None:
        # the bucket's size and min id as a window: the base is read
        # once (a lazy index computes its signature once) and leaves
        # partitioned on the bucket join's keys
        bucket = Window.partitionBy("band", "bucket")
        base = (
            base.withColumns(
                {
                    "__n": F.count(F.lit(1)).over(bucket),
                    "__rep": F.min("__base_id").over(bucket),
                }
            )
            .where(
                (F.col("__n") <= max_bucket_size)
                | (F.col("__base_id") == F.col("__rep"))
            )
            .withColumn("__via", F.col("__n") > F.lit(max_bucket_size))
            .select("__base_id", "band", "bucket", "__via")
        )
    else:
        base = base.withColumn("__via", F.lit(False))
    nb = (
        new_index.join(base, ["band", "bucket"])
        .groupBy(F.col(id_col).alias("id_a"), F.col("__base_id").alias("id_b"))
        .agg((F.min(F.col("__via").cast("int")) == 1).alias("via_representative"))
        .withColumn("against", F.lit("base"))
    )
    return nn.select("id_a", "id_b", "via_representative", "against").union(
        nb.select("id_a", "id_b", "via_representative", "against")
    )
