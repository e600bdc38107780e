"""Independent derivation of the expected outputs, in numpy.

The engine's near-duplicate answer is defined as: char-3-gram shingle
hashes (base-31 polynomial mod P = 2^31-1, short trailing windows
padded with one space), 60 seeded affine min-hashes, 10 bands of 6
rows, then
  similar_pairs = band-colliding pairs whose signatures agree on at
                  least 36 of 60 positions and whose exact shingle-set
                  Jaccard is >= 0.8;
  stream pairs  = band-colliding pairs with exact Jaccard >= 0.8 (the
                  streaming operator has no signature prefilter).
This module recomputes both from the raw texts with array arithmetic,
sharing no code with the engine, and derives the other three chain
outputs (pairs_symmetric, near_dup_groups, dedup_keep_best) from them.
"""
import numpy as np

P = 2147483647
NUM_HASHES, BANDS, ROWS = 60, 10, 6
PREFILTER_MIN_AGREE = 36
THRESHOLD = 0.8
SEED = 42


def _java_random_longs(seed, n):
    """java.util.Random(seed).nextLong() x n (scala.util.Random wraps it)."""
    mask = (1 << 48) - 1
    state = (seed ^ 0x5DEECE66D) & mask

    def next32():
        nonlocal state
        state = (state * 0x5DEECE66D + 0xB) & mask
        v = state >> 16
        return v - (1 << 32) if v >= (1 << 31) else v

    out = []
    for _ in range(n):
        v = ((next32() << 32) + next32()) & ((1 << 64) - 1)
        out.append(v - (1 << 64) if v >= (1 << 63) else v)
    return out


def coefficients():
    longs = _java_random_longs(SEED, 2 * NUM_HASHES)
    a = np.array([longs[2 * i] % (P - 1) + 1 for i in range(NUM_HASHES)], dtype=np.int64)
    b = np.array([longs[2 * i + 1] % P for i in range(NUM_HASHES)], dtype=np.int64)
    return a, b


def shingle_sets(texts):
    """(doc index, sorted distinct hashes) as two aligned arrays, sorted
    by doc then hash, plus per-doc set sizes. ASCII texts only."""
    lens = np.array([len(t) for t in texts], dtype=np.int64)
    buf = np.frombuffer("".join(texts).encode("ascii"), dtype=np.uint8).astype(np.int64)
    doc = np.repeat(np.arange(len(texts), dtype=np.int64), lens)
    pos = np.arange(len(buf), dtype=np.int64) - np.repeat(np.cumsum(lens) - lens, lens)
    left = np.repeat(lens, lens) - pos  # chars from this position to the doc end
    nxt = lambda k: np.concatenate([buf[k:], np.zeros(k, dtype=np.int64)])
    c1 = np.where(left >= 2, nxt(1), 32)
    c2 = np.where(left >= 3, nxt(2), 32)
    full = (buf * 31 + c1) * 31 + c2           # 3-char window (padded once if short)
    h = np.where(left >= 2, full, buf * 31 + 32) % P  # last window: 1 char + space
    key = np.unique(doc * (1 << 31) + h)
    return key >> 31, key & ((1 << 31) - 1), np.bincount(key >> 31, minlength=len(texts))


def signatures(doc, h, n_docs, block=400000):
    """sig[d, i] = min over d's shingle hashes s of (a_i * s + b_i) mod P.
    The affine hashes are tabulated once per distinct shingle value."""
    a, b = coefficients()
    vocab, col = np.unique(h, return_inverse=True)
    table = ((vocab[:, None] * a[None, :] + b[None, :]) % P).astype(np.int32)
    starts = np.flatnonzero(np.concatenate([[True], doc[1:] != doc[:-1]]))
    sig = np.empty((n_docs, NUM_HASHES), dtype=np.int64)
    # blocks of whole docs, so each block's gathered table stays small
    cuts = np.searchsorted(starts, np.arange(0, len(h), block))
    cuts = np.unique(np.append(cuts, len(starts)))
    for lo, hi in zip(cuts[:-1], cuts[1:]):
        s0 = starts[lo]
        s1 = starts[hi] if hi < len(starts) else len(h)
        vals = table[col.ravel()[s0:s1]]
        sig[doc[starts[lo:hi]]] = np.minimum.reduceat(vals, starts[lo:hi] - s0, axis=0)
    return sig


def band_candidates(sig):
    """Distinct (lo, hi) doc-index pairs colliding in at least one band."""
    n = sig.shape[0]
    codes = []
    for j in range(BANDS):
        _, bucket = np.unique(sig[:, j * ROWS:(j + 1) * ROWS], axis=0, return_inverse=True)
        bucket = bucket.ravel()
        order = np.argsort(bucket, kind="stable")
        sb = bucket[order]
        bounds = np.flatnonzero(np.concatenate([[True], sb[1:] != sb[:-1], [True]]))
        sizes = np.diff(bounds)
        for s, m in zip(bounds[:-1][sizes > 1], sizes[sizes > 1]):
            members = np.sort(order[s:s + m])
            iu, ju = np.triu_indices(m, 1)
            codes.append(members[iu] * n + members[ju])
    if not codes:
        return np.empty((0, 2), dtype=np.int64)
    c = np.unique(np.concatenate(codes))
    return np.stack([c // n, c % n], axis=1)


class Intersector:
    """|A ∩ B| per pair: a bit-packed doc x shingle incidence matrix
    when the shingle vocabulary is small (candidate-heavy corpora),
    else per-doc Python sets (few candidates)."""

    def __init__(self, doc, h, sizes):
        self.doc, self.h, self.sizes = doc, h, sizes
        self.packed, self.sets = None, {}
        vocab = np.unique(h)
        if len(vocab) <= 8192:
            inc = np.zeros((len(sizes), len(vocab)), dtype=np.uint8)
            inc[doc, np.searchsorted(vocab, h)] = 1
            self.packed = np.packbits(inc, axis=1)
            self.popcount = np.array([bin(i).count("1") for i in range(256)], dtype=np.int64)
        else:
            self.bounds = np.searchsorted(doc, np.arange(len(sizes) + 1))

    def _set(self, d):
        if d not in self.sets:
            self.sets[d] = set(self.h[self.bounds[d]:self.bounds[d + 1]].tolist())
        return self.sets[d]

    def count(self, pairs, chunk=50000):
        if self.packed is None:
            return np.array([len(self._set(l) & self._set(r)) for l, r in pairs.tolist()],
                            dtype=np.int64)
        out = np.empty(len(pairs), dtype=np.int64)
        for s in range(0, len(pairs), chunk):
            p = pairs[s:s + chunk]
            out[s:s + chunk] = self.popcount[self.packed[p[:, 0]] & self.packed[p[:, 1]]].sum(axis=1)
        return out

    def jaccard(self, pairs):
        inter = self.count(pairs)
        # the same IEEE double division as the engine: inter / (|A|+|B|-inter)
        return inter / (self.sizes[pairs[:, 0]] + self.sizes[pairs[:, 1]] - inter)


def near_dup_pairs(texts, stream_docs):
    """similar_pairs over the whole corpus, and the streaming operator's
    pair set over the first `stream_docs` docs; plus the Jaccard of
    every planted pair (for the recall check). Each pair set is a dict
    (id_l, id_r) -> jaccard. Doc index == doc_id."""
    n = len(texts)
    doc, h, sizes = shingle_sets(texts)
    sig = signatures(doc, h, n)
    cand = band_candidates(sig)
    agree = np.empty(len(cand), dtype=np.int64)
    for s in range(0, len(cand), 200000):
        c = cand[s:s + 200000]
        agree[s:s + 200000] = (sig[c[:, 0]] == sig[c[:, 1]]).sum(axis=1)
    pre = cand[agree >= PREFILTER_MIN_AGREE]
    inter = Intersector(doc, h, sizes)
    jp = inter.jaccard(pre)
    similar = {(int(l), int(r)): float(j) for (l, r), j in zip(pre, jp) if j >= THRESHOLD}
    sc = cand[cand[:, 1] < stream_docs]
    js = inter.jaccard(sc)
    stream = {(int(l), int(r)): float(j) for (l, r), j in zip(sc, js) if j >= THRESHOLD}
    planted = np.array([(d - 1, d) for d in range(19, n, 20)], dtype=np.int64).reshape(-1, 2)
    jplanted = inter.jaccard(planted)
    return {
        "similar": similar,
        "stream": stream,
        "planted": {(int(l), int(r)): float(j) for (l, r), j in zip(planted, jplanted)},
        "raw_candidates": int(len(cand)),
        "prefilter_survivors": int(len(pre)),
    }


def components(pairs):
    """doc_id -> minimum doc_id of its connected component, for every
    doc in some pair."""
    parent = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for l, r in pairs:
        parent.setdefault(l, l)
        parent.setdefault(r, r)
        a, b = find(l), find(r)
        if a != b:
            parent[max(a, b)] = min(a, b)
    return {d: find(d) for d in parent}


def n_tokens(text):
    return sum(1 for t in text.split(" ") if t)


def chain_outputs(texts, similar):
    """Expected row sets of the four chain queries."""
    sym = [(a, b) for l, r in similar for a, b in ((l, r), (r, l))]
    toks = [n_tokens(t) for t in texts]
    dropped = {a for a, b in sym if toks[b] > toks[a] or (toks[b] == toks[a] and b < a)}
    return {
        "similar_pairs": {(l, r, j) for (l, r), j in similar.items()},
        "pairs_symmetric": {(a, b, texts[a], texts[b]) for a, b in sym},
        "near_dup_groups": set(components(similar).items()),
        "dedup_keep_best": {(d, toks[d]) for d in range(len(texts)) if d not in dropped},
    }
