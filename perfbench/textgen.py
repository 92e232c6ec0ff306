"""Seeded text and embedding corpus for the ``curate`` workload.

Background documents draw words from a large, mildly skewed vocabulary,
so the per-task token memos in the text kernels see a working set far
larger than one batch.  Planted on top:

* exact-duplicate groups (2-4 identical texts under distinct ids);
* near-duplicate chains (3-6 members) where each member is within
  SimHash Hamming distance 3 of the previous one and more than 3 from
  every earlier one, so joining a chain takes several connected-
  components hops;
* embedding twins: identical vectors under two ids.

Each planted cluster lives in one blocking key (``source``).  The
SimHash used to build the chains is a reference written here from the
operator's documented definition (first 8 bytes of md5 per whitespace
token, ±1 votes per bit, sign), not the package's kernel.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

import numpy as np

N_BLOCKS = 8
EMB_DIM = 64
MAX_HAMMING = 3   # simhash_neardup_pairs radius used by the workload


@dataclass
class CurateCorpus:
    doc_id: np.ndarray        # int64
    text: list[str]
    source: list[str]
    exact_groups: list[list[int]]
    chains: list[list[int]]   # ids in chain order
    vec_id: np.ndarray        # int64
    vectors: np.ndarray       # float32 [n, EMB_DIM]
    twins: list[tuple[int, int]]

    @property
    def clusters(self) -> list[list[int]]:
        return self.exact_groups + self.chains

    def planted_pairs(self) -> set[tuple[int, int]]:
        """Pairs the pair finders must report: every pair inside an
        exact group and every adjacent pair of a chain."""
        pairs = set()
        for g in self.exact_groups:
            pairs |= {(min(a, b), max(a, b))
                      for i, a in enumerate(g) for b in g[i + 1:]}
        for c in self.chains:
            pairs |= {(min(a, b), max(a, b)) for a, b in zip(c, c[1:])}
        return pairs


def _vocabulary(rng: np.random.Generator, size: int) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: set[str] = set()
    while len(words) < size:
        n = size - len(words)
        lens = rng.integers(3, 11, n)
        chars = rng.choice(letters, size=(n, 10))
        words.update("".join(row[:k]) for row, k in zip(chars, lens))
    return sorted(words)


def _token_bits(word: str) -> np.ndarray:
    """±1 vote vector of one token (bit b of the md5 prefix → index b)."""
    h = int.from_bytes(hashlib.md5(word.encode()).digest()[:8], "big")
    bits = (h >> np.arange(64, dtype=np.uint64)) & np.uint64(1)
    return 2 * bits.astype(np.int32) - 1


class _Votes:
    def __init__(self):
        self._memo: dict[str, np.ndarray] = {}

    def of(self, word: str) -> np.ndarray:
        v = self._memo.get(word)
        if v is None:
            v = self._memo[word] = _token_bits(word)
        return v

    def doc(self, words: list[str]) -> np.ndarray:
        return np.sum([self.of(w) for w in words], axis=0)


def _chain(draw, rng, votes: _Votes, depth: int,
           length: int) -> list[list[str]] | None:
    words = list(draw(length))
    members = [words]
    cur_votes = votes.doc(words)
    sigs = [cur_votes > 0]
    while len(members) < depth:
        for _ in range(400):
            cand = list(members[-1])
            v = cur_votes.copy()
            for pos in rng.choice(length, size=rng.integers(1, 3),
                                  replace=False):
                new = draw(1)[0]
                v += votes.of(new) - votes.of(cand[pos])
                cand[pos] = new
            s = v > 0
            if int(np.sum(s != sigs[-1])) > MAX_HAMMING:
                continue
            if any(int(np.sum(s != old)) <= MAX_HAMMING
                   for old in sigs[:-1]):
                continue
            members.append(cand)
            sigs.append(s)
            cur_votes = v
            break
        else:
            return None
    return members


def make_curate_corpus(seed: int, n_docs: int, n_vecs: int,
                       vocab_size: int = 40000,
                       planted_share: float = 0.04) -> CurateCorpus:
    rng = np.random.default_rng(seed)
    vocab = np.array(_vocabulary(rng, vocab_size))
    ranks = np.arange(1, vocab_size + 1)
    cdf = np.cumsum(1.0 / (ranks + 200.0) ** 0.9)
    cdf /= cdf[-1]

    def draw(n: int) -> np.ndarray:
        return vocab[np.searchsorted(cdf, rng.random(n), side="right")]

    votes = _Votes()

    texts: list[str] = []
    sources: list[str] = []
    groups: list[tuple[str, list[int]]] = []   # (kind, positions)
    n_planted = int(n_docs * planted_share)
    planted = 0
    while planted < n_planted:
        block = f"src{rng.integers(N_BLOCKS)}"
        length = int(rng.integers(40, 121))
        if rng.random() < 0.5:
            size = int(rng.integers(2, 5))
            text = " ".join(draw(length))
            members = [text] * size
            kind = "exact"
        else:
            chain = _chain(draw, rng, votes,
                           int(rng.integers(3, 7)), length)
            if chain is None:
                continue
            members = [" ".join(w) for w in chain]
            kind = "chain"
        start = len(texts)
        texts.extend(members)
        sources.extend([block] * len(members))
        groups.append((kind, list(range(start, start + len(members)))))
        planted += len(members)
    while len(texts) < n_docs:
        length = int(rng.integers(40, 121))
        texts.append(" ".join(draw(length)))
        sources.append(f"src{rng.integers(N_BLOCKS)}")

    # ids are a random permutation, so planted docs are scattered and
    # the smallest id of a cluster is not its first member
    ids = rng.permutation(len(texts)).astype(np.int64)
    exact = [[int(ids[p]) for p in pos] for k, pos in groups
             if k == "exact"]
    chains = [[int(ids[p]) for p in pos] for k, pos in groups
              if k == "chain"]

    vectors = rng.standard_normal((n_vecs, EMB_DIM)).astype(np.float32)
    n_twins = max(1, n_vecs // 200)
    src = rng.choice(n_vecs, size=2 * n_twins, replace=False)
    vectors[src[n_twins:]] = vectors[src[:n_twins]]
    vec_ids = rng.permutation(n_vecs).astype(np.int64)
    twins = [(int(vec_ids[a]), int(vec_ids[b]))
             for a, b in zip(src[:n_twins], src[n_twins:])]
    return CurateCorpus(doc_id=ids, text=texts, source=sources,
                        exact_groups=exact, chains=chains,
                        vec_id=vec_ids, vectors=vectors, twins=twins)
