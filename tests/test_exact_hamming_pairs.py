"""The exact_hamming_pairs skeleton: the duplicate-cluster-safe form
of the exact-hamming near-dup join (dedup.py).

The covering contract: for ANY signature table the output equals the
quadratic all-pairs form at the threshold — including the two paths the
skeleton splits (identical-signature pairs via the plain equi-join,
hamming 1..max via distinct-signature combo tables + member expansion)
and their seam (no pair emitted twice, no pair lost)."""

from __future__ import annotations

from itertools import combinations

import pytest

from mindocr_spark.operators.dedup import (
    MANKU60_BLOCKS,
    MANKU64_BLOCKS,
    SIMHASH_BANDED_HAMMING_MAX,
    SIMHASH_BANDS,
    exact_hamming_pairs,
)


@pytest.fixture(scope="module")
def spark():
    from mindocr_spark.session import get_spark

    s = get_spark(app_name="test_exact_hamming", cores=2)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.mark.parametrize(
    "blocks",
    [SIMHASH_BANDS, MANKU60_BLOCKS, MANKU64_BLOCKS],
    ids=["banded", "manku60", "manku64"],
)
def test_matches_quadratic_with_mass_duplicates(spark, blocks):
    # a corpus with heavy identical-signature clusters (the case the
    # skeleton exists for), near-pairs at every hamming 1..3, and
    # far-apart signatures that must NOT pair
    base = 0x0123_4567_89AB_CDEF
    sigs = (
        [(i, base) for i in range(6)]                      # cluster of 6
        + [(10, base ^ 0x1)]                               # hamming 1
        + [(11, base ^ 0x3)]                               # hamming 2
        + [(12, base ^ 0x7)]                               # hamming 3
        + [(13, base ^ 0xF)]                               # hamming 4: out
        + [(20, -42), (21, -42)]                           # negative cluster
        + [(30, 0x7FFF_FFFF_FFFF_FFFF)]                    # isolated
    )
    bits = sum(blocks[0])
    if bits < 64:  # the 60-bit specs see 60-bit signatures
        sigs = [(i, h & ((1 << bits) - 1)) for i, h in sigs]
    df = spark.createDataFrame(sigs, "doc_id long, simhash long")
    got = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in exact_hamming_pairs(
            df, blocks, SIMHASH_BANDED_HAMMING_MAX
        ).collect()
    }
    want = set()
    for (ida, ha), (idb, hb) in combinations(sigs, 2):
        h = bin((ha ^ hb) & 0xFFFF_FFFF_FFFF_FFFF).count("1")
        if h <= SIMHASH_BANDED_HAMMING_MAX:
            want.add((min(ida, idb), max(ida, idb), h))
    assert got == want
    # sanity on the fixture itself: both paths and the seam are exercised
    assert {h for _, _, h in want} == {0, 1, 2, 3}
