"""String and vector similarity kernels.

Reproduces the reference's exact feature semantics
(/root/reference/src/parallel_features.py:1150-1300):

- ``levenshtein_sim``: ``1 - dist/max_len`` (1.0 when both empty).
- ``token_sort_ratio``: the reference calls this feature "jaro_winkler" but it
  is actually ``rapidfuzz.fuzz.token_sort_ratio(s1, s2) / 100`` — whitespace
  tokens sorted, joined with a single space, then the normalized indel
  similarity ``(len1+len2-dist_indel)/(len1+len2)``. rapidfuzz is unavailable
  here, so the indel distance is computed from an LCS DP (indel = m+n-2*LCS).
- "cosine" features are *string-estimated*: 1.0 on identical hash, else
  levenshtein_sim for person, token_sort_ratio for other fields.
- interaction features: harmonic mean, product, ratio capped at 10.0.

All kernels are pure Python over str; callers batch them inside Arrow pandas
UDFs (the vectorization boundary is the Arrow batch, per input_hint).
"""

from __future__ import annotations

import numpy as np


def _match_masks(s: str) -> dict[str, int]:
    """char -> bitmask of its positions in s (bit i = s[i])."""
    masks: dict[str, int] = {}
    bit = 1
    for c in s:
        masks[c] = masks.get(c, 0) | bit
        bit <<= 1
    return masks


def levenshtein_distance_dp(s1: str, s2: str) -> int:
    """Classic two-row DP — reference implementation for tests."""
    if s1 == s2:
        return 0
    m, n = len(s1), len(s2)
    if m == 0:
        return n
    if n == 0:
        return m
    if m < n:  # iterate over the shorter string's columns
        s1, s2, m, n = s2, s1, n, m
    prev = list(range(n + 1))
    cur = [0] * (n + 1)
    for i in range(1, m + 1):
        cur[0] = i
        c1 = s1[i - 1]
        for j in range(1, n + 1):
            cost = 0 if c1 == s2[j - 1] else 1
            cur[j] = min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + cost)
        prev, cur = cur, prev
    return prev[n]


def levenshtein_distance(s1: str, s2: str) -> int:
    """Myers bit-parallel Levenshtein (1999): O(n) bigint steps.

    Python's unbounded ints act as the bit-vector, so any pattern length
    works in one "word". ~100x faster than the DP for typical field strings.
    """
    if s1 == s2:
        return 0
    m, n = len(s1), len(s2)
    if m == 0:
        return n
    if n == 0:
        return m
    if m > n:  # pattern = shorter string
        s1, s2, m, n = s2, s1, n, m

    peq = _match_masks(s1)
    mask = (1 << m) - 1
    high = 1 << (m - 1)
    pv = mask
    mv = 0
    score = m
    for c in s2:
        eq = peq.get(c, 0)
        xv = eq | mv
        xh = (((eq & pv) + pv) ^ pv) | eq
        ph = mv | (~(xh | pv) & mask)
        mh = pv & xh
        if ph & high:
            score += 1
        if mh & high:
            score -= 1
        ph = ((ph << 1) | 1) & mask
        mh = (mh << 1) & mask
        pv = mh | (~(xv | ph) & mask)
        mv = ph & xv
    return score


def levenshtein_sim(s1: str, s2: str) -> float:
    """1 - dist/max_len; 1.0 when both strings are empty."""
    max_len = max(len(s1), len(s2))
    if max_len == 0:
        return 1.0
    return 1.0 - levenshtein_distance(s1, s2) / max_len


def _lcs_len_dp(s1: str, s2: str) -> int:
    """LCS length, two-row DP — reference implementation for tests."""
    m, n = len(s1), len(s2)
    if m == 0 or n == 0:
        return 0
    if m < n:
        s1, s2, m, n = s2, s1, n, m
    prev = [0] * (n + 1)
    for i in range(1, m + 1):
        cur = [0] * (n + 1)
        c1 = s1[i - 1]
        for j in range(1, n + 1):
            if c1 == s2[j - 1]:
                cur[j] = prev[j - 1] + 1
            else:
                cur[j] = cur[j - 1] if cur[j - 1] >= prev[j] else prev[j]
        prev = cur
    return prev[n]


def _lcs_len(s1: str, s2: str, mask_cache: dict | None = None) -> int:
    """Allison-Dix bit-parallel LCS length: O(n) bigint steps.

    ``mask_cache`` (str -> char-mask dict) amortizes the per-pattern mask
    build across repeated strings — callers that score many pairs sharing
    strings (the ER scoring kernel) pass a per-partition dict.
    """
    m, n = len(s1), len(s2)
    if m == 0 or n == 0:
        return 0
    if m > n:  # pattern = shorter string
        s1, s2, m, n = s2, s1, n, m
    if mask_cache is None:
        masks = _match_masks(s1)
    else:
        masks = mask_cache.get(s1)
        if masks is None:
            masks = _match_masks(s1)
            mask_cache[s1] = masks
    mask = (1 << m) - 1
    row = 0
    for c in s2:
        x = row | masks.get(c, 0)
        row = x & ~((x - (((row << 1) | 1) & mask)) & mask) & mask
    return bin(row).count("1")


_U64_MAX = np.uint64(0xFFFFFFFFFFFFFFFF)


def _popcount_u64(a: np.ndarray) -> np.ndarray:
    """Per-element popcount of a uint64 array (numpy < 2 lacks
    bitwise_count): view as bytes, unpackbits, sum per element."""
    n = a.shape[0]
    if n == 0:
        return np.zeros(0, dtype=np.int64)
    bits = np.unpackbits(a.view(np.uint8)).reshape(n, 64).sum(axis=1)
    return bits.astype(np.int64)


def _lcs_batch_1w(items: list, out: np.ndarray) -> None:
    """Vectorized Allison-Dix rows for ASCII patterns <= 64 chars.

    ``items``: (out_index, pattern, text) with len(pattern) <= len(text)
    and every pattern char < U+0080 (a text char outside the pattern's
    alphabet contributes a zero mask, so non-ASCII TEXT chars are fine).
    One uint64 lane per pair; all pairs advance in lockstep over their
    text chars (inactive lanes frozen), so the per-char Python loop of
    the scalar kernel becomes ~len(longest text) numpy steps per chunk.
    The match-mask table is a fixed (chunk, 129) codepoint table filled
    with np.bitwise_or.at — no per-char Python work anywhere.
    """
    one = np.uint64(1)
    items = sorted(items, key=lambda t: len(t[2]))
    chunk = 4096
    for s in range(0, len(items), chunk):
        sub = items[s:s + chunk]
        cn = len(sub)
        m = np.fromiter((len(p) for _, p, _ in sub), dtype=np.int64, count=cn)
        lens2 = np.fromiter((len(t) for _, _, t in sub), dtype=np.int64, count=cn)
        maxn = int(lens2.max())
        # whole-chunk fills: ONE encode + ONE scatter for all patterns,
        # likewise for texts — per-pair numpy calls cost more than the
        # lockstep loop itself at these sizes
        mtab = np.zeros((cn, 129), dtype=np.uint64)
        codes = np.zeros((cn, maxn), dtype=np.int64)
        p_cps = np.frombuffer(
            "".join(p for _, p, _ in sub).encode("utf-32-le"), dtype="<u4"
        ).astype(np.int64)
        p_pair = np.repeat(np.arange(cn), m)
        p_off = np.concatenate(([0], np.cumsum(m)[:-1]))
        p_pos = np.arange(len(p_cps)) - p_off[p_pair]
        np.bitwise_or.at(mtab, (p_pair, p_cps + 1), one << p_pos.astype(np.uint64))
        t_cps = np.frombuffer(
            "".join(t for _, _, t in sub).encode("utf-32-le"), dtype="<u4"
        ).astype(np.int64)
        t_pair = np.repeat(np.arange(cn), lens2)
        t_off = np.concatenate(([0], np.cumsum(lens2)[:-1]))
        t_pos = np.arange(len(t_cps)) - t_off[t_pair]
        codes[t_pair, t_pos] = np.where(t_cps < 128, t_cps + 1, 0)
        maskv = np.where(
            m == 64, _U64_MAX, (one << np.minimum(m, 63).astype(np.uint64)) - one
        )
        rows = np.zeros(cn, dtype=np.uint64)
        lane = np.arange(cn)
        for j in range(maxn):
            act = lens2 > j
            eq = mtab[lane, codes[:, j]]
            x = rows | eq
            shifted = ((rows << one) | one) & maskv
            t_ = (x - shifted) & maskv
            new = x & ~t_ & maskv
            rows = np.where(act, new, rows)
        pc_ = _popcount_u64(rows)
        for i, (oi, _, _) in enumerate(sub):
            out[oi] = pc_[i]


def _lcs_batch_2w(items: list, out: np.ndarray) -> None:
    """Two-limb (ASCII pattern 65-128 chars) variant of _lcs_batch_1w: the
    shift, subtract-with-borrow and mask steps are carried across lo/hi
    uint64 limbs explicitly."""
    one = np.uint64(1)
    s63 = np.uint64(63)
    items = sorted(items, key=lambda t: len(t[2]))
    chunk = 4096
    for s in range(0, len(items), chunk):
        sub = items[s:s + chunk]
        cn = len(sub)
        m = np.fromiter((len(p) for _, p, _ in sub), dtype=np.int64, count=cn)
        lens2 = np.fromiter((len(t) for _, _, t in sub), dtype=np.int64, count=cn)
        maxn = int(lens2.max())
        mtab_lo = np.zeros((cn, 129), dtype=np.uint64)
        mtab_hi = np.zeros((cn, 129), dtype=np.uint64)
        codes = np.zeros((cn, maxn), dtype=np.int64)
        p_cps = np.frombuffer(
            "".join(p for _, p, _ in sub).encode("utf-32-le"), dtype="<u4"
        ).astype(np.int64)
        p_pair = np.repeat(np.arange(cn), m)
        p_off = np.concatenate(([0], np.cumsum(m)[:-1]))
        p_pos = np.arange(len(p_cps)) - p_off[p_pair]
        lo_sel = p_pos < 64
        np.bitwise_or.at(
            mtab_lo, (p_pair[lo_sel], p_cps[lo_sel] + 1),
            one << p_pos[lo_sel].astype(np.uint64),
        )
        np.bitwise_or.at(
            mtab_hi, (p_pair[~lo_sel], p_cps[~lo_sel] + 1),
            one << (p_pos[~lo_sel] - 64).astype(np.uint64),
        )
        t_cps = np.frombuffer(
            "".join(t for _, _, t in sub).encode("utf-32-le"), dtype="<u4"
        ).astype(np.int64)
        t_pair = np.repeat(np.arange(cn), lens2)
        t_off = np.concatenate(([0], np.cumsum(lens2)[:-1]))
        t_pos = np.arange(len(t_cps)) - t_off[t_pair]
        codes[t_pair, t_pos] = np.where(t_cps < 128, t_cps + 1, 0)
        mh = (m - 64).astype(np.uint64)
        maskhi = np.where(m == 128, _U64_MAX, (one << np.minimum(mh, s63)) - one)
        r_lo = np.zeros(cn, dtype=np.uint64)
        r_hi = np.zeros(cn, dtype=np.uint64)
        lane = np.arange(cn)
        for j in range(maxn):
            act = lens2 > j
            c = codes[:, j]
            eq_lo = mtab_lo[lane, c]
            eq_hi = mtab_hi[lane, c]
            x_lo = r_lo | eq_lo
            x_hi = r_hi | eq_hi
            sh_lo = (r_lo << one) | one
            sh_hi = ((r_hi << one) | (r_lo >> s63)) & maskhi
            t_lo = x_lo - sh_lo
            borrow = (x_lo < sh_lo).astype(np.uint64)
            t_hi = (x_hi - sh_hi - borrow) & maskhi
            n_lo = x_lo & ~t_lo
            n_hi = x_hi & ~t_hi & maskhi
            r_lo = np.where(act, n_lo, r_lo)
            r_hi = np.where(act, n_hi, r_hi)
        pc_ = _popcount_u64(r_lo) + _popcount_u64(r_hi)
        for i, (oi, _, _) in enumerate(sub):
            out[oi] = pc_[i]


def lcs_lens_batch(pairs: list, mask_cache: dict | None = None) -> np.ndarray:
    """LCS lengths for many string pairs at once.

    Pairs whose shorter side is pure-ASCII and fits 64 (resp. 128) chars
    run through the vectorized one- (two-)limb Allison-Dix kernels; longer
    or non-ASCII patterns fall back to the scalar bigint kernel (sharing
    ``mask_cache``). Value-identical to ``_lcs_len`` on every pair
    (property-tested); ~10x faster when pairs are plentiful, which is
    exactly the ER scoring regime (hundreds of thousands of distinct
    token-sorted pairs per partition).
    """
    out = np.zeros(len(pairs), dtype=np.int64)
    w1, w2 = [], []
    for i, (a, b) in enumerate(pairs):
        if len(a) > len(b):
            a, b = b, a
        mlen = len(a)
        if mlen == 0:
            continue
        if mlen <= 64 and a.isascii():
            w1.append((i, a, b))
        elif mlen <= 128 and a.isascii():
            w2.append((i, a, b))
        else:
            out[i] = _lcs_len(a, b, mask_cache=mask_cache)
    if w1:
        _lcs_batch_1w(w1, out)
    if w2:
        _lcs_batch_2w(w2, out)
    return out


def indel_ratio(s1: str, s2: str, mask_cache: dict | None = None) -> float:
    """Normalized indel similarity in [0, 1] (rapidfuzz fuzz.ratio semantics).

    indel_distance = len1 + len2 - 2*LCS; ratio = 1 - dist/(len1+len2).
    """
    lensum = len(s1) + len(s2)
    if lensum == 0:
        return 1.0
    dist = lensum - 2 * _lcs_len(s1, s2, mask_cache=mask_cache)
    return 1.0 - dist / lensum


def token_sort_ratio(s1: str, s2: str) -> float:
    """rapidfuzz ``fuzz.token_sort_ratio / 100`` semantics, in [0, 1]."""
    t1 = " ".join(sorted(s1.split()))
    t2 = " ".join(sorted(s2.split()))
    return indel_ratio(t1, t2)


def harmonic_mean(a: float, b: float) -> float:
    """2ab/(a+b) when both positive, else 0 (parallel_features.py:1258-1264)."""
    if a > 0 and b > 0:
        return 2.0 * a * b / (a + b)
    return 0.0


def ratio_capped(a: float, b: float, cap: float = 10.0) -> float:
    """a/b when b>0 else 0, capped (parallel_features.py:1284-1300)."""
    if b > 0:
        return min(a / b, cap)
    return 0.0
