"""Unit tests for the numeric kernels (no Spark): XXH64, tokenizer,
sketch, band keys, Jaccard — golden vectors + oracle/vectorized parity.

These are the load-bearing parity tests (SURVEY.md §5 item 1): the pure-
Python oracle implements the reference contract (SURVEY.md §2.1) literally;
the vectorized kernels must match it exactly.
"""

import json
import os
import random

import numpy as np
import pytest

from cpp_near_dedupe_spark.functions import (
    ALPHANUM,
    band_keys_batch,
    band_keys_oracle,
    jaccard_batch,
    jaccard_oracle,
    sketch_batch,
    sketch_oracle,
    tokenize_oracle,
    transcode_oracle,
    xxh64,
    xxh64_rows,
)

GOLDEN = os.path.join(os.path.dirname(__file__), "golden")


def load(name):
    with open(os.path.join(GOLDEN, name)) as f:
        return json.load(f)


# ---------------------------------------------------------------- xxh64

def test_xxh64_published_vectors():
    # public vectors for the xxHash64 spec
    assert xxh64(b"", 0) == 0xEF46DB3751D8E999
    assert xxh64(b"a", 0) == 0xD24EC4F1A98C6E5B
    assert xxh64(b"abc", 0) == 0x44BC2CF5AD770999


def test_xxh64_vectorized_matches_scalar():
    rng = random.Random(1)
    for _ in range(60):
        n = rng.randrange(0, 120)
        seed = rng.choice([0, 1, 42, 63, 2**64 - 1])
        rows = [bytes(rng.randrange(256) for _ in range(n)) for _ in range(4)]
        mat = (
            np.frombuffer(b"".join(rows), dtype=np.uint8).reshape(4, n)
            if n
            else np.zeros((4, 0), np.uint8)
        )
        got = xxh64_rows(mat, seed)
        for r, g in zip(rows, got):
            assert xxh64(r, seed) == int(g)


# ---------------------------------------------------------------- tokenizer

def test_alphanum_table_shape_and_anchors():
    assert ALPHANUM.shape == (65536,)
    assert ALPHANUM[ord("a")] and ALPHANUM[ord("Z")] and ALPHANUM[ord("0")]
    for ch in " \t\n.,!-_()[]":
        assert not ALPHANUM[ord(ch)]
    # surrogates must be delimiters (the fast path depends on it)
    assert not ALPHANUM[0xD800:0xE000].any()
    # table quirk vs modern Unicode: superscript two is NOT alphanumeric
    assert not ALPHANUM[0x00B2]


def test_tokenize_golden():
    for case in load("tokenize.json"):
        words = tokenize_oracle(transcode_oracle(case["text"].encode("utf-8")))
        got = ["".join(chr(c) for c in w) for w in words]
        assert got == case["tokens"], case["text"]


def test_transcode_golden():
    for case in load("transcode.json"):
        got = transcode_oracle(bytes.fromhex(case["utf8_hex"]))
        assert got == case["utf16_units"]


def test_transcode_nonbmp_becomes_spaces():
    # each of the 4 UTF-8 bytes of a non-BMP char -> one space (Hashing.h:87-90)
    assert transcode_oracle("💩".encode("utf-8")) == [0x20] * 4


def test_transcode_malformed_raises():
    with pytest.raises(ValueError):
        transcode_oracle(b"\xc3")  # truncated 2-byte seq
    with pytest.raises(ValueError):
        transcode_oracle(b"\xc3A")  # bad continuation


# ---------------------------------------------------------------- sketch

def test_sketch_golden():
    for case in load("sketch64.json"):
        got = sketch_oracle(case["text"], num_hashes=case["num_hashes"])
        assert [str(v) for v in got] == case["sketch"]


def test_sketch_edge_semantics():
    assert sketch_oracle("") == []
    assert sketch_oracle(None) == []
    assert sketch_oracle("one two three four") == []  # <K words
    assert len(sketch_oracle("one two three four five")) == 1
    assert len(sketch_oracle("one two three four five six")) == 2
    assert len(sketch_oracle("word " * 300)) == 1  # distinct-before-bottom-N
    # sketch saturates at N for long docs
    long = " ".join(f"w{i}" for i in range(400))
    assert len(sketch_oracle(long)) == 256


def test_sketch_batch_matches_oracle():
    rng = random.Random(7)
    vocab = ["alpha", "beta", "gamma", "δelta", "eps", "ζeta", "数", "слово"]
    cases = ["", None, "one two three four five", "💩 a b c d e f"]
    cases += [" ".join(rng.choices(vocab, k=rng.randrange(0, 300))) for _ in range(40)]
    for got, text in zip(sketch_batch(cases), cases):
        assert list(map(int, got)) == sketch_oracle(text)


def test_sketch_order_sensitivity():
    # shingles are ordered windows: word order changes the sketch
    a = sketch_oracle("one two three four five six seven")
    b = sketch_oracle("seven six five four three two one")
    assert a != b


# ---------------------------------------------------------------- bands

def test_band_keys_golden():
    for case in load("bands.json"):
        sig = [int(v) for v in case["signature"]]
        got = [[b, str(k)] for b, k in band_keys_oracle(sig)]
        assert got == case["band_keys"]


def test_band_keys_batch_matches_oracle():
    rng = np.random.default_rng(3)
    sigs = [
        np.unique(rng.integers(0, 2**63, size=n).astype(np.uint64))
        for n in [0, 1, 3, 4, 5, 17, 100, 255, 256, 256]
    ]
    di, bi, bk = band_keys_batch(sigs)
    per_doc = {i: [] for i in range(len(sigs))}
    for d, b, k in zip(di, bi, bk):
        per_doc[int(d)].append((int(b), int(k)))
    for i, s in enumerate(sigs):
        assert per_doc[i] == band_keys_oracle([int(x) for x in s])


def test_band_collision_semantics():
    # equal band slices -> equal keys; that is the whole LSH contract
    s1 = np.arange(1, 257, dtype=np.uint64)
    s2 = s1.copy()
    s2[100:] += 1000  # bands 0..24 identical (4 values per band)
    k1 = dict(band_keys_oracle([int(x) for x in s1]))
    k2 = dict(band_keys_oracle([int(x) for x in s2]))
    assert [b for b in k1 if k1[b] == k2[b]] == list(range(25))
    # same values in a different band position -> different key (seed=band id)
    assert k1[0] != dict(band_keys_oracle([int(x) for x in s1]))[0] + 1


def test_short_sketch_partial_bands_dropped():
    sig = list(range(1, 11))  # 10 values, band_size 4 -> 2 complete bands
    assert [b for b, _ in band_keys_oracle(sig)] == [0, 1]


# ---------------------------------------------------------------- jaccard

def test_jaccard_golden():
    for case in load("jaccard.json"):
        a = [int(v) for v in case["a"]]
        b = [int(v) for v in case["b"]]
        assert jaccard_oracle(a, b) == pytest.approx(case["jaccard"])


def test_jaccard_empty_normalization():
    # reference: 0/0 = NaN fails >= threshold (Jaccard.h:41-42); we give 0.0
    assert jaccard_oracle([], []) == 0.0
    assert jaccard_oracle([], [1, 2]) == 0.0


def test_jaccard_batch_matches_oracle():
    rng = np.random.default_rng(5)
    a_list, b_list = [], []
    for _ in range(200):
        a_list.append(np.unique(rng.integers(0, 500, rng.integers(0, 300)).astype(np.uint64)))
        b_list.append(np.unique(rng.integers(0, 500, rng.integers(0, 300)).astype(np.uint64)))
    got = jaccard_batch(a_list, b_list)
    for a, b, g in zip(a_list, b_list, got):
        assert g == pytest.approx(jaccard_oracle(a, b))


def test_jaro_winkler_batch_long_outlier_guard():
    """ADVICE r3: one long outlier must not inflate the whole batch's
    padded matrices — outliers over the length cap take the scalar loop;
    values must equal the scalar spec either way."""
    import numpy as np

    from cpp_near_dedupe_spark.functions.jaro_winkler import (
        jaro_winkler,
        jaro_winkler_batch,
    )

    big = "x" * 100_000 + "tail"
    left = ["martha", big, "dwayne", "", big]
    right = ["marhta", big[:-1] + "?", "duane", "abc", big]
    got = jaro_winkler_batch(left, right)
    exp = np.array([jaro_winkler(a, b) for a, b in zip(left, right)])
    np.testing.assert_allclose(got, exp, rtol=0, atol=1e-12)
