"""Unit tests for the shared signature kernels (SURVEY.md §5.2: per-stage
units + property-style checks, no Spark needed)."""

from __future__ import annotations

import os

import numpy as np
import pytest

from qalsh_spark import kernels as K
from qalsh_spark.config import DedupConfig

A, B = K.minhash_params()


def _mh(text: str) -> np.ndarray:
    return K.minhash_from_shingles(K.shingle_hashes(K.hash_tokens(K.tokenize(text))), A, B)


def test_tokenize_deterministic():
    assert K.tokenize("Hello, World 42!") == ["hello", "world", "42"]
    assert K.tokenize("") == []


def test_hash_tokens_stable_and_distinct():
    h1 = K.hash_tokens(["alpha", "beta", "alpha"])
    h2 = K.hash_tokens(["alpha", "beta", "alpha"])
    assert np.array_equal(h1, h2)
    assert h1[0] == h1[2] and h1[0] != h1[1]


def test_shingles_edge_cases():
    assert len(K.shingle_hashes(np.empty(0, np.uint64))) == 1  # sentinel
    two = K.shingle_hashes(K.hash_tokens(["a", "b"]), k=3)
    assert len(two) == 2  # falls back to token hashes
    many = K.shingle_hashes(K.hash_tokens(list("abcdefgh")), k=3)
    assert len(many) == 6  # 8 - 3 + 1, all unique


def test_minhash_estimates_jaccard():
    rng = np.random.default_rng(0)
    words = [f"w{i}" for i in range(400)]
    t1 = " ".join(words)
    # replace 10% of tokens -> known shingle overlap
    w2 = list(words)
    for i in rng.choice(400, 40, replace=False):
        w2[i] = f"x{i}"
    t2 = " ".join(w2)
    s1 = K.shingle_hashes(K.hash_tokens(K.tokenize(t1)))
    s2 = K.shingle_hashes(K.hash_tokens(K.tokenize(t2)))
    true_j = K.jaccard_sorted(s1, s2)
    est = float(np.mean(_mh(t1) == _mh(t2)))
    assert abs(est - true_j) < 0.15  # 128 perms -> sd ~= 0.044


def test_minhash_blocks_match_one_full_matrix_min():
    """MinHash takes its min over bounded shingle blocks; across several
    blocks and a ragged tail it equals the min of the full
    (n_shingles, num_perm) matrix bit for bit."""
    rng = np.random.default_rng(1)
    sh = np.unique(rng.integers(0, 2**63, size=3 * K._MINHASH_BLOCK + 5, dtype=np.uint64))
    with np.errstate(over="ignore"):
        full = (sh[:, None] * A[None, :] + B[None, :]).min(axis=0)
    want = (full >> np.uint64(32)).astype(np.uint32).view(np.int32)
    assert np.array_equal(K.minhash_from_shingles(sh, A, B), want)


def test_minhash_identical_docs():
    assert np.array_equal(_mh("the quick brown fox"), _mh("the quick brown fox"))
    assert float(np.mean(_mh("aaa bbb ccc ddd") == _mh("zzz yyy xxx www"))) < 0.2


def test_simhash_locality():
    base = " ".join(f"tok{i}" for i in range(500))
    edited = base.replace("tok250 tok251", "zzz yyy")
    f1 = K.simhash64(K.hash_tokens(K.tokenize(base)))
    f2 = K.simhash64(K.hash_tokens(K.tokenize(edited)))
    ham = bin((f1 ^ f2) & ((1 << 64) - 1)).count("1")
    assert ham <= 6  # tiny edit -> small Hamming distance
    f3 = K.simhash64(K.hash_tokens(K.tokenize(" ".join(f"o{i}" for i in range(500)))))
    assert bin((f1 ^ f3) & ((1 << 64) - 1)).count("1") > 15


def test_band_hashes_shape_and_sensitivity():
    mh = _mh("some document body with enough words to shingle properly here")
    bh = K.band_hashes(mh, 32, 4)
    assert bh.shape == (32,) and bh.dtype == np.int64
    mh2 = mh.copy()
    mh2[0] = np.int32(mh2[0] ^ 1)
    bh2 = K.band_hashes(mh2, 32, 4)
    assert bh[0] != bh2[0] and np.array_equal(bh[1:], bh2[1:])


def test_simhash_band_keys_pigeonhole():
    """Manku block-combination guarantee: hamming <= blocks-key_blocks
    implies >=1 shared key; unrelated fingerprints share none."""
    fp1 = 0b1011_0001
    fp2 = fp1 ^ (1 << 20) ^ (1 << 40) ^ (1 << 60)  # hamming 3
    k1 = K.simhash_band_keys(fp1, 6, 3)
    k2 = K.simhash_band_keys(fp2, 6, 3)
    assert len(k1) == 20 and len(k2) == 20
    assert len(set(k1.tolist()) & set(k2.tolist())) >= 1
    # worst case: 3 flips in 3 DIFFERENT blocks still leaves one intact combo
    fp3 = fp1 ^ (1 << 2) ^ (1 << 30) ^ (1 << 63)
    k3 = K.simhash_band_keys(fp3, 6, 3)
    assert len(set(k1.tolist()) & set(k3.tolist())) >= 1
    # unrelated fingerprint: no shared keys
    k4 = K.simhash_band_keys(0x5A5A_A5A5_DEAD_BEEF, 6, 3)
    assert not set(k1.tolist()) & set(k4.tolist())


def test_anchors_content_defined():
    run = "x" * 50 + " the shared verbatim canonical passage of considerable length repeated across documents " * 4
    prefix_a = "prefix one two three "
    prefix_b = "completely different beginning text here "
    doc_a = prefix_a + run + " suffix alpha"
    doc_b = prefix_b + run + " other ending"
    # anchors depend only on the preceding window, so inside the shared run
    # both docs anchor at the same offsets relative to the run's start
    inner = lambda doc, start: {
        int(p) - start for p in K.anchors(doc) if start + 16 <= p <= start + len(run)
    }
    ia, ib = inner(doc_a, len(prefix_a)), inner(doc_b, len(prefix_b))
    assert ia and ia == ib
    # content-defined anchors inside the shared run yield shared suffix prefixes
    sa = {doc_a[p : p + 64] for p in K.anchors(doc_a)}
    sb = {doc_b[p : p + 64] for p in K.anchors(doc_b)}
    assert sa & sb, "shared verbatim run must produce shared suffix buckets"


def _suffix_key_at(text: str, p: int, window: int = 16, lcp_min: int = 100):
    """The (k1, k2) key of the suffix at anchor `p`: the slice keeps the
    anchor's window and exactly lcp_min bytes after it, so it is the only
    anchor of the slice with enough bytes left to be keyed."""
    k1, k2 = K.suffix_key_pairs_for_text(text[p - window : p + lcp_min])
    assert len(k1) == 1
    return int(k1[0]), int(k2[0])


def test_lcp():
    """Two suffixes get the same key iff their longest common prefix is at
    least lcp_min bytes."""
    run = "x" * 50 + " the shared verbatim canonical passage of considerable length repeated across documents " * 4
    doc_a = run + " suffix alpha and a long distinct tail " * 4
    doc_b = run + " other ending with its own unrelated tail " * 4
    outcomes = set()
    for p in K.anchors(doc_a).tolist():
        if p > len(run) or p + 100 > min(len(doc_a), len(doc_b)):
            continue
        lcp = len(os.path.commonprefix([doc_a[p:], doc_b[p:]]))
        same = _suffix_key_at(doc_a, p) == _suffix_key_at(doc_b, p)
        assert same == (lcp >= 100), (p, lcp)
        outcomes.add(same)
    assert outcomes == {True, False}


def test_suffix_keys_shared_run():
    """Docs sharing a >=200-char verbatim run place content-defined anchors
    at the same offsets inside it and so share >=1 full (k1, k2) tuple
    (k1 = hash of the lcp_min bytes after an anchor, k2 = the independent
    check hash); docs with unrelated text share none; empty or tiny text
    yields empty, aligned arrays."""
    run = (
        "x" * 50
        + " the shared verbatim canonical passage of considerable length "
        "repeated across documents " * 4
    )
    doc_a = "prefix one two three " + run + " suffix alpha"
    doc_b = "completely different beginning text here " + run + " other ending"
    doc_c = "nothing in common with the others at all just filler words " * 10
    ta, tb, tc = (
        set(zip(*(k.tolist() for k in K.suffix_key_pairs_for_text(d))))
        for d in (doc_a, doc_b, doc_c)
    )
    assert ta & tb, "shared verbatim run must produce shared (k1, k2) tuples"
    assert not (ta & tc) and not (tb & tc)
    for text in ("", "tiny"):
        k1, k2 = K.suffix_key_pairs_for_text(text)
        assert len(k1) == len(k2) == 0
        assert k1.dtype == k2.dtype == np.int64


def test_doc_id_from_url_known_value():
    import hashlib

    url = "https://site0001.example/unique/000001"
    v = int(hashlib.md5(url.encode()).hexdigest()[:16], 16)
    expect = v - (1 << 64) if v >= 1 << 63 else v
    assert K.doc_id_from_url(url) == expect


def test_tune_bands():
    b, r = DedupConfig.tune_bands(0.5)
    assert b * r == 128
    assert abs((1 / b) ** (1 / r) - 0.5) < 0.12
    cfg = DedupConfig()
    assert cfg.expected_recall(0.8) > 0.999


def test_jaccard_sorted():
    a = np.array([1, 2, 3, 4], dtype=np.uint64)
    b = np.array([3, 4, 5, 6], dtype=np.uint64)
    assert K.jaccard_sorted(a, b) == pytest.approx(2 / 6)
    assert K.jaccard_sorted(np.empty(0, np.uint64), np.empty(0, np.uint64)) == 1.0


def test_jaccard_sorted_property_vs_python_sets():
    """Property-pin the scalar kernel against pure-Python set arithmetic
    (the verify stage's golden-edge parity rides on this kernel)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=200, deadline=None)
    @given(
        st.lists(st.integers(-(2**62), 2**62), max_size=30, unique=True),
        st.lists(st.integers(-(2**62), 2**62), max_size=30, unique=True),
    )
    def check(xs, ys):
        a = np.array(sorted(xs), np.int64)
        b = np.array(sorted(ys), np.int64)
        got = K.jaccard_sorted(a, b)
        sa, sb = set(xs), set(ys)
        want = 1.0 if not (sa | sb) else len(sa & sb) / len(sa | sb)
        assert got == want, (xs, ys, got, want)

    check()
