"""Gold of the generated corpora equals the closure of the detector contract.

Run: ``python -m pytest perfbench/test_gold.py -q`` from the repo root.

The contract is the pipeline's duplicate relation: byte-identical text,
exact 3-word-shingle Jaccard >= 0.8, SimHash (the pipeline's word-bigram
kernel) Hamming distance <= 7, or one text contained in the other with
the inner one at least 50 characters long. The closure is computed by
brute force over all pairs, with no candidate generation.
"""

from __future__ import annotations

import os
import sys
from collections import defaultdict

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
from outcite_duplicate_detecting_spark.functions.hashing import (  # noqa: E402
    fnv1a64_strings,
    hash_shingles_from_word_hashes,
    simhash64,
)
from outcite_duplicate_detecting_spark.functions.text import (  # noqa: E402
    py_word_shingles,
    py_words,
)

_POP8 = np.array([bin(i).count("1") for i in range(256)], dtype=np.uint8)


class _UnionFind:
    def __init__(self, n: int):
        self.parent = list(range(n))

    def find(self, x: int) -> int:
        while self.parent[x] != x:
            self.parent[x] = self.parent[self.parent[x]]
            x = self.parent[x]
        return x

    def union(self, a: int, b: int) -> None:
        self.parent[self.find(a)] = self.find(b)


def _partition(labels) -> set[frozenset[int]]:
    groups = defaultdict(set)
    for i, g in enumerate(labels):
        groups[g].add(i)
    return {frozenset(v) for v in groups.values()}


def brute_force_closure(texts: list[str]) -> set[frozenset[int]]:
    n = len(texts)
    uf = _UnionFind(n)
    # exact Jaccard over shingle strings: the intersection sizes come from
    # an inverted index, so every pair sharing a shingle is scored exactly
    sets = [set(py_word_shingles(t, 3)) for t in texts]
    posting = defaultdict(list)
    for i, s in enumerate(sets):
        for sh in s:
            posting[sh].append(i)
    inter = defaultdict(int)
    for ids in posting.values():
        for a in range(len(ids)):
            for b in range(a + 1, len(ids)):
                inter[ids[a], ids[b]] += 1
    for (a, b), k in inter.items():
        if k / (len(sets[a]) + len(sets[b]) - k) >= 0.8:
            uf.union(a, b)
    # SimHash, all pairs
    sigs = np.array(
        [
            simhash64(hash_shingles_from_word_hashes(fnv1a64_strings(py_words(t)), 2))
            for t in texts
        ],
        dtype=np.uint64,
    )
    for a in range(n):
        x = (sigs[a] ^ sigs[a + 1 :]).view(np.uint8).reshape(-1, 8)
        for d in np.nonzero(_POP8[x].sum(axis=1) <= 7)[0]:
            uf.union(a, a + 1 + int(d))
    # exact copies and containment, all pairs
    for a in range(n):
        ta = texts[a]
        for b in range(n):
            if a != b and len(texts[b]) >= len(ta) and (
                ta == texts[b] or (len(ta) >= 50 and ta in texts[b])
            ):
                uf.union(a, b)
    return _partition(uf.find(i) for i in range(n))


@pytest.mark.parametrize("workload", ["web_mixed", "dup_dense"])
@pytest.mark.parametrize("seed", [1, 2, 3])
def test_gold_equals_contract_closure(workload, seed):
    rows = gen.corpus(workload, seed, 2000).rows()
    assert _partition(r.gold for r in rows) == brute_force_closure([r.text for r in rows])


@pytest.mark.parametrize("workload", ["web_mixed", "dup_dense"])
def test_rows_independent_of_part_count(workload):
    c = gen.corpus(workload, 7, 1500)
    whole = c.rows()
    for parts in (2, 5):
        cuts = [c.n_rows * i // parts for i in range(parts + 1)]
        pieces = [r for lo, hi in zip(cuts, cuts[1:]) for r in c.rows(lo, hi)]
        assert pieces == whole
    assert len({r.url for r in whole}) == len(whole)
    assert gen.corpus(workload, 8, 1500).rows(0, 50) != whole[:50]
