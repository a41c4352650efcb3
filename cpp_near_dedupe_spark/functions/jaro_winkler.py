"""Jaro-Winkler string similarity — batched kernel for entity resolution.

Classic definition (Winkler 1990, as implemented by DuckDB's
``jaro_winkler_similarity``, which is this module's test oracle):

* match window = max(0, max(|s1|, |s2|) // 2 - 1)
* jaro = (m/|s1| + m/|s2| + (m - t)/m) / 3   (m = matches, t = half the
  transpositions); 0.0 when either string is empty or m = 0
* winkler boost: jaro + L · 0.1 · (1 - jaro) applied ONLY when
  jaro > 0.7, with L = common prefix length capped at 4

Jaro-Winkler is designed for short identity-ish strings (names, titles,
url slugs) — the record-linkage complement to the sketch-Jaccard used for
document bodies.

Two implementations:

* ``jaro``/``jaro_winkler`` — the scalar spec (per-pair greedy first-fit
  matching, linear time with one monotone pointer per byte value): the
  property-test oracle, and the path for long outliers.
* ``jaro_winkler_batch`` — the production kernel: the whole Arrow batch
  is padded into (n × Lmax) char-code matrices and the greedy match-window
  loop runs as Lmax·Wmax numpy passes over ALL pairs at once (batch-
  vectorized, zero per-pair Python). Greedy first-fit matching is
  position-local, so iterating i (query position) and j (candidate
  position) with batch-wide boolean masks reproduces the scalar semantics
  exactly; equality is pinned by a hypothesis test against the scalar and
  by the DuckDB ``jaro_winkler_similarity`` driver oracle.
"""

from __future__ import annotations

import numpy as np

_PREFIX_CAP = 4
_PREFIX_WEIGHT = 0.1
_BOOST_THRESHOLD = 0.7


def jaro(s1: str, s2: str) -> float:
    # operates on UTF-8 BYTES, not codepoints — matching DuckDB (and most
    # C implementations); for the ASCII identity strings JW is meant for,
    # the two definitions coincide
    a, b = s1.encode("utf-8"), s2.encode("utf-8")
    l1, l2 = len(a), len(b)
    if l1 == 0 or l2 == 0:
        return 0.0
    if a == b:
        return 1.0
    window = max(0, max(l1, l2) // 2 - 1)
    # greedy first-fit matching — each a[i], in order, takes the first
    # untaken b[j] == a[i] with |i - j| <= window — in O(l1 + l2): per byte
    # value, b's positions in order plus ONE monotone pointer. Positions of
    # a value are only ever taken at its pointer, and the window's lower
    # bound only rises with i, so everything behind the pointer is taken
    # or out of reach for good and the pointer never moves back.
    positions: dict[int, list[int]] = {}
    for j, c in enumerate(b):
        positions.setdefault(c, []).append(j)
    ptr = dict.fromkeys(positions, 0)
    a_idx, b_idx = [], []
    for i, c in enumerate(a):
        pos = positions.get(c)
        if pos is None:
            continue
        k = ptr[c]
        while k < len(pos) and pos[k] < i - window:
            k += 1
        if k < len(pos) and pos[k] <= i + window:
            a_idx.append(i)
            b_idx.append(pos[k])
            k += 1
        ptr[c] = k
    m = len(a_idx)
    if m == 0:
        return 0.0
    # transpositions: matched chars of a, in order, vs matched chars of b
    t = sum(a[i] != b[j] for i, j in zip(a_idx, sorted(b_idx))) // 2
    return (m / l1 + m / l2 + (m - t) / m) / 3.0


def jaro_winkler(s1: str, s2: str) -> float:
    j = jaro(s1, s2)
    if j > _BOOST_THRESHOLD:
        b1, b2 = s1.encode("utf-8"), s2.encode("utf-8")
        cap = min(_PREFIX_CAP, len(b1), len(b2))
        L = 0
        while L < cap and b1[L] == b2[L]:
            L += 1
        j += L * _PREFIX_WEIGHT * (1.0 - j)
    return j


def _pad_codes(strs: list[str], pad: int) -> tuple[np.ndarray, np.ndarray]:
    """UTF-8 byte codes padded into an (n × Lmax) int16 matrix; padding
    uses a >255 sentinel so pads can never match real bytes (and the two
    sides use DIFFERENT sentinels so pad never matches pad)."""
    bs = [(s or "").encode("utf-8") for s in strs]
    lens = np.fromiter((len(b) for b in bs), dtype=np.int64, count=len(bs))
    lmax = int(lens.max()) if len(bs) else 0
    mat = np.full((len(bs), max(lmax, 1)), pad, dtype=np.int16)
    if lmax:
        flat = np.frombuffer(b"".join(bs), dtype=np.uint8)
        mask = np.arange(lmax)[None, :] < lens[:, None]
        mat[:, :lmax][mask] = flat
    return mat, lens


# byte length above which a pair leaves the batch-matrix path: the kernel
# pads the WHOLE batch to the longest string, so one megabyte outlier in a
# 10k-row batch would allocate O(n·Lmax) int16 matrices (multi-GB) and do
# O(Lmax·Wmax) work for every pair. Long outliers take the scalar loop,
# which degrades gracefully per-pair. JW is for short identity strings;
# 512 B covers urls/titles/names with huge margin.
_BATCH_LEN_CAP = 512


def jaro_winkler_batch(left: list[str], right: list[str]) -> np.ndarray:
    n = len(left)
    if n == 0:
        return np.empty(0, dtype=np.float64)
    enc_l = [(s or "").encode("utf-8") for s in left]
    enc_r = [(s or "").encode("utf-8") for s in right]
    long_idx = [
        i
        for i in range(n)
        if len(enc_l[i]) > _BATCH_LEN_CAP or len(enc_r[i]) > _BATCH_LEN_CAP
    ]
    if long_idx:
        # split: long outliers via the scalar spec, the rest batched —
        # the batch matrices stay bounded at n × _BATCH_LEN_CAP
        out = np.empty(n, dtype=np.float64)
        long_set = set(long_idx)
        short_idx = [i for i in range(n) if i not in long_set]
        if short_idx:
            out[short_idx] = jaro_winkler_batch(
                [left[i] for i in short_idx], [right[i] for i in short_idx]
            )
        for i in long_idx:
            out[i] = jaro_winkler(left[i] or "", right[i] or "")
        return out
    a, la = _pad_codes(left, pad=256)
    b, lb = _pad_codes(right, pad=257)
    l1, l2 = a.shape[1], b.shape[1]

    window = np.maximum(0, np.maximum(la, lb) // 2 - 1)
    wmax = int(window.max())
    b_taken = np.zeros((n, l2), dtype=bool)
    a_match = np.full((n, l1), -1, dtype=np.int64)
    # greedy first-fit matching, vectorized across the batch: for each
    # query position i, scan candidate positions j within the widest
    # window; per-pair window bounds are enforced by the lo/hi masks
    for i in range(l1):
        ai = a[:, i]
        lo = np.maximum(0, i - window)
        hi = np.minimum(lb, i + window + 1)
        found = np.zeros(n, dtype=bool)
        for j in range(max(0, i - wmax), min(l2, i + wmax + 1)):
            cand = (
                ~found
                & (j >= lo)
                & (j < hi)
                & ~b_taken[:, j]
                & (b[:, j] == ai)
            )
            if cand.any():
                b_taken[cand, j] = True
                a_match[cand, i] = j
                found |= cand

    matched = a_match >= 0
    m = matched.sum(axis=1)

    # transpositions: matched chars of a in i-order vs matched chars of b
    # in j-order. Stable argsort on ~matched compresses the matched i's to
    # the front preserving order; sorting the j's (unmatched -> +inf
    # sentinel) yields b's matched order.
    order = np.argsort(~matched, axis=1, kind="stable")
    a_comp = np.take_along_axis(a, order, axis=1)
    mj = np.where(matched, a_match, np.iinfo(np.int64).max)
    mj_sorted = np.sort(mj, axis=1)
    b_g = np.take_along_axis(b, np.minimum(mj_sorted, l2 - 1), axis=1)
    valid = np.arange(l1)[None, :] < m[:, None]
    t = ((a_comp != b_g) & valid).sum(axis=1) // 2

    with np.errstate(divide="ignore", invalid="ignore"):
        jaro_v = (m / la + m / lb + (m - t) / np.maximum(m, 1)) / 3.0
    jaro_v = np.where((la == 0) | (lb == 0) | (m == 0), 0.0, jaro_v)
    # exact equality (scalar fast path): identical byte strings score 1.0
    w = min(l1, l2)
    pos = np.arange(w)[None, :]
    eq_all = (la == lb) & ((a[:, :w] == b[:, :w]) | (pos >= la[:, None])).all(axis=1)
    jaro_v = np.where(eq_all & (la > 0), 1.0, jaro_v)

    # winkler boost: common prefix (≤4), only when jaro > 0.7; the
    # differing pad sentinels stop the prefix at min(la, lb) automatically
    p = min(_PREFIX_CAP, l1, l2)
    prefix = np.cumprod(a[:, :p] == b[:, :p], axis=1).sum(axis=1)
    boost = jaro_v > _BOOST_THRESHOLD
    return np.where(
        boost, jaro_v + prefix * _PREFIX_WEIGHT * (1.0 - jaro_v), jaro_v
    )
