"""Hypothesis property tests over the pure Python/numpy twins of the
engine's kernels (SURVEY.md §5.2(3), widened beyond fixed seeds).

These target the layer where a silent divergence would poison every
oracle check at once: the seeded hash stream, genome construction, and
the bitwise GA invariants. No SparkSession per example — each property
runs hundreds of cases in milliseconds; cross-engine (Spark/DuckDB)
parity at fixed seeds is covered by test_prng/test_numpy_kernels."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from geneticalgorithmsusingmapreduce_spark.functions import bits, prng

I64 = st.integers(min_value=-(2**63), max_value=2**63 - 1)


@given(st.lists(I64, min_size=1, max_size=4), I64)
@settings(max_examples=300, deadline=None)
def test_np_xxhash64_matches_py_everywhere(cols, seed):
    got = prng.np_xxhash64(
        [np.array([c], dtype=np.int64) for c in cols], seed=seed
    )
    assert int(got[0]) == prng.py_xxhash64(cols, seed=seed)


@given(I64)
@settings(max_examples=300, deadline=None)
def test_np_popcount_matches_python(x):
    arr = np.array([x], dtype=np.int64)
    assert int(prng.np_popcount64(arr)[0]) == (x & (2**64 - 1)).bit_count()


@given(st.integers(min_value=1, max_value=4096))
@settings(max_examples=100, deadline=None)
def test_tail_mask_zeroes_exactly_past_nbits(n_bits):
    nl = bits.n_longs(n_bits)
    assert nl == -(-n_bits // 64)
    mask = bits.last_long_mask(n_bits)
    kept = mask & (2**64 - 1)
    assert kept.bit_count() == n_bits - (nl - 1) * 64


@given(
    st.integers(min_value=0, max_value=2**31 - 1),
    st.lists(st.integers(min_value=0, max_value=2**31), min_size=1,
             max_size=5, unique=True),
    st.integers(min_value=1, max_value=512),
)
@settings(max_examples=60, deadline=None)
def test_np_genome_tail_clean_and_fitness_bounded(seed, keys, n_bits):
    g = bits.np_genome(seed, np.array(keys, dtype=np.int64), n_bits)
    nl = bits.n_longs(n_bits)
    assert g.shape == (len(keys), nl)
    # bits beyond n_bits must be zero (tail mask)
    tail = np.uint64(g[:, -1].view(np.uint64)) & ~np.uint64(
        bits.last_long_mask(n_bits) & (2**64 - 1)
    )
    assert not tail.any()
    fit = prng.np_popcount64(g).sum(axis=1)
    assert (fit <= n_bits).all() and (fit >= 0).all()


@given(
    st.integers(min_value=0, max_value=2**31 - 1),
    st.integers(min_value=0, max_value=2**31 - 1),
    st.integers(min_value=1, max_value=512),
)
@settings(max_examples=60, deadline=None)
def test_np_crossover_conserves_bit_multiset(seed, pair_key, n_bits):
    keys = np.array([pair_key, pair_key + 7], dtype=np.int64)
    pa = bits.np_genome(seed, keys, n_bits)
    pb = bits.np_genome(seed + 1, keys, n_bits)
    c1, c2 = bits.np_crossover(pa, pb, seed + 2, keys, n_bits)
    # per-position multiset conservation: {c1,c2} == {a,b} bitwise
    assert ((c1 | c2) == (pa | pb)).all()
    assert ((c1 & c2) == (pa & pb)).all()


@given(
    st.integers(min_value=0, max_value=2**62),
    st.integers(min_value=0, max_value=2**63 - 1),
)
@settings(max_examples=300, deadline=None)
def test_bernoulli_threshold_matches_reference_rule(h, p64):
    """The fixed-point Bernoulli rule is |draw| <= p (reference
    CGA.java:103). The engine's numpy/py twin: bit = (draw & MAX) <= p64,
    strictly in [0, MAX] — p64=0 can still fire (draw==0), p64=MAX always
    fires; the probability is (p64+1)/2^63, monotone in p64."""
    draw = prng.py_xxhash64([h])
    bit = int((draw & (2**63 - 1)) <= p64)
    assert bit in (0, 1)
    if p64 == 2**63 - 1:
        assert bit == 1


@given(
    st.integers(0, 2**31 - 1),
    st.integers(2, 40),
    st.integers(1, 6),
    st.integers(600, 1000),
)
@settings(max_examples=40, deadline=None)
def test_block_pair_decomposition_covers_every_pair_once(
    seed, k, n_parts, tau_milli
):
    # the skew-bound invariant (r11): splitting a cluster's rows into P
    # hash parts and sweeping the P(P+1)/2 block-pair groups must emit
    # EXACTLY the monolithic upper-triangle pair set — each unordered
    # pair lands in the one group keyed (min, max) of its members'
    # parts. Pure-kernel property over random integer vectors.
    from geneticalgorithmsusingmapreduce_spark.operators import ann

    rng = np.random.default_rng(seed)
    vid = rng.choice(10_000, size=k, replace=False).astype(np.int64)
    xm = rng.integers(-50, 51, size=(k, 8)).astype(np.int64)
    n2 = (xm * xm).sum(axis=1)
    keep = n2 > 0
    vid, xm, n2 = vid[keep], xm[keep], n2[keep]
    if not len(vid):
        return
    t2 = tau_milli * tau_milli
    order = np.argsort(vid)
    vid, xm, n2 = vid[order], xm[order], n2[order]
    xf = xm.astype(np.float64)

    def norm(table) -> set:  # Arrow [vec_a, vec_b, dot, na2, nb2]
        return set(zip(*(c.to_pylist() for c in table.columns)))

    mono = norm(ann._tile_pairs(vid, n2, xf, t2=t2, tile=7))
    part = (vid * 2654435761 % n_parts).astype(np.int64)
    got: set = set()
    for bi in range(n_parts):
        for bj in range(bi, n_parts):
            if bi == bj:
                m = part == bi
                if not m.any():
                    continue
                block = ann._tile_pairs(vid[m], n2[m], xf[m], t2=t2, tile=7)
            else:
                ma, mb = part == bi, part == bj
                if not ma.any() or not mb.any():
                    continue
                block = ann._tile_pairs(
                    vid[ma], n2[ma], xf[ma],
                    vid[mb], n2[mb], xf[mb], t2=t2, tile=7,
                )
            pairs = norm(block)
            assert not (pairs & got)  # no pair emitted by two groups
            got |= pairs
    assert got == mono
