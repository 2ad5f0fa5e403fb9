"""Round-17 optimization pins.

1. minhash_band_pairs_open's two-stage verify predicate must accept the
   EXACT double-rounding boundary: sets of 4 and 5 sharing 4 elements
   have exact jaccard 4/5 < double(0.8), but 4/5 rounds TO double(0.8)
   and the naive `jac >= 0.8` double comparison (the oracle's semantics)
   accepts it. A size-ratio gate comparing `min*1.0 >= 0.8*max` rejects
   exactly this pair (4.0 < 0.8*5.0 in doubles) — the r17 slack gate and
   the midpoint integer filter must both keep it.
2. The midpoint integer filter is an identity for the double comparison
   across the boundary neighborhood (python-side brute force).
3. shingle_tids' single-slice k-gram extraction emits the identical
   (doc_id, tid) multiset as the per-character form it replaced.
4. _train_blocks_distributed is deterministic and matches a driver-side
   per-block-seeded reference exactly.
"""

from __future__ import annotations

import math
from fractions import Fraction

import numpy as np
import pytest

from pyspark.sql import functions as F


def test_open_verify_keeps_rounding_boundary_pair(spark):
    """doc 1 = {a,b,c,d,e} (5 shingles), doc 2 = {a,b,c,d} (4 shingles),
    intersection 4 → exact jac 4/5; double(4/5) == double(0.8) so the
    oracle-semantics filter accepts. The pair must survive the r17 gate +
    integer filter. Built with n_bands=1 so banding cannot drop it."""
    from etl_earthquake_gcp_spark.operators.dedup import minhash_band_pairs_open

    # 60 is chosen so its 4 seeded hashes never win a min over {10..40}:
    # both docs then share the full signature and the single band keys
    # them together deterministically (banding recall plays no part here)
    tids = spark.createDataFrame(
        [(1, t) for t in (10, 20, 30, 40, 60)] + [(2, t) for t in (10, 20, 30, 40)],
        "doc_id long, tid long",
    )
    out = minhash_band_pairs_open(
        tids=tids, n_hashes=4, n_bands=1, threshold=0.8, seed=42
    ).collect()
    assert len(out) == 1, out
    row = out[0]
    assert (row.doc_a, row.doc_b) == (1, 2)
    assert row.jaccard == 0.8


@pytest.mark.parametrize("threshold", [-0.1, 1.5, float("nan"), 1e-30])
def test_open_verify_rejects_threshold_outside_range(spark, threshold):
    """Thresholds outside [0, 1], and positive ones too small for the
    verify's BIGINT midpoint literals, are refused at plan-build time.
    (0 is accepted: minhash_candidate_quality uses it to keep every
    candidate, and its parity test covers it.)"""
    from etl_earthquake_gcp_spark.operators.dedup import minhash_band_pairs_open

    tids = spark.createDataFrame([(1, 10)], "doc_id long, tid long")
    with pytest.raises(ValueError, match="threshold"):
        minhash_band_pairs_open(tids=tids, threshold=threshold)


def test_open_verify_accepts_threshold_one(spark):
    """threshold=1.0 is the top of the range: only identical sets pair."""
    from etl_earthquake_gcp_spark.operators.dedup import minhash_band_pairs_open

    tids = spark.createDataFrame(
        [(d, t) for d in (1, 2) for t in (10, 20, 30, 40)]
        + [(3, t) for t in (10, 20, 30, 60)],
        "doc_id long, tid long",
    )
    out = minhash_band_pairs_open(
        tids=tids, n_hashes=4, n_bands=1, threshold=1.0, seed=42
    ).collect()
    assert [(r.doc_a, r.doc_b, r.jaccard) for r in out] == [(1, 2, 1.0)]


@pytest.mark.parametrize("threshold", [0.8, 0.5, 0.9, 1.0, 2 / 3])
def test_midpoint_filter_matches_double_comparison(threshold):
    """(den+num)*i >= num*U with num/den = the rounding midpoint of the
    threshold replicates `double(i/(U-i)) >= threshold` exactly."""
    mid = (Fraction(threshold) + Fraction(math.nextafter(threshold, 0.0))) / 2
    for U in range(2, 4000):
        for i in range(0, U):
            u = U - i
            if u <= 0:
                continue
            dbl = (i * 1.0) / u >= threshold
            integer = (mid.denominator + mid.numerator) * i >= mid.numerator * U
            if dbl != integer:
                raise AssertionError((threshold, i, u, dbl, integer))


def test_shingle_tids_single_slice_multiset(spark):
    """The r17 single-slice extraction is (doc_id, tid)-multiset-identical
    to the per-character reference, including the '' -> ascii 0 padding
    at the text tail (texts shorter than k included)."""
    from etl_earthquake_gcp_spark.operators.dedup import shingle_tids

    docs = spark.createDataFrame(
        [(1, "abcdefg"), (2, "ab"), (3, "a b a b"), (4, "xxxx")],
        "doc_id long, text string",
    )
    k = 4
    code = " + ".join(
        f"ascii(substr(text, i + {j}, 1)) * {256 ** (k - 1 - j)}" for j in range(k)
    )
    ref = docs.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(1), F.greatest(F.length("text") - (k - 1), F.lit(1)))
        ).alias("i"),
        "text",
    ).select("doc_id", F.expr(f"CAST({code} AS BIGINT)").alias("tid"))
    new = shingle_tids(docs, k=k)
    assert ref.exceptAll(new).count() == 0 and new.exceptAll(ref).count() == 0


def test_distributed_codebooks_deterministic(spark):
    """Per-block seeded RNGs make the Arrow-stage trainer a pure function
    of (sample, seed) — equal to the driver-side reference loop and equal
    across invocations."""
    from etl_earthquake_gcp_spark.plans.vector_queries import (
        _lloyd,
        _train_blocks_distributed,
    )

    rng0 = np.random.default_rng(11)
    X = rng0.standard_normal((600, 64))
    dpb, k, seed = 8, 64, 42
    got1 = _train_blocks_distributed(spark, X, dpb, k, seed)
    got2 = _train_blocks_distributed(spark, X, dpb, k, seed)
    assert np.array_equal(got1, got2)
    ref = np.stack(
        [
            _lloyd(X[:, b * dpb : (b + 1) * dpb], k, np.random.default_rng([seed, b]))
            for b in range(8)
        ]
    )
    assert np.array_equal(got1, ref)
