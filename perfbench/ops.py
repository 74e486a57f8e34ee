"""Seeded operation sequences.  Pure Python + NumPy: no Spark here, so
the sequences can be checked without a session.

Keys are order indexes (order ``k`` has order key ``k * KEY_STRIDE``)
and follow a Zipf (s = 1.0) law over the 75 k orders, with the
rank → key mapping permuted by the seed, so hot keys land in different
partitions on different seeds while one seed always yields one
sequence.
"""

from __future__ import annotations

import itertools
from typing import Iterator

import numpy as np

from datagen import KEY_STRIDE, N_ORDERS

MULTIGET_KEYS = 50
READBACKS_PER_PASS = 2
PUTS_PER_BATCH = 20
INCREMENTS_PER_BATCH = 20
GETS_PER_CYCLE = 4


def rowkey(k: int) -> str:
    """6-digit zero-padded order key of order index ``k``; its first 2
    characters name one of the 15 storage partitions."""
    return f"{k * KEY_STRIDE:06d}"


class ZipfKeys:
    def __init__(self, rng: np.random.Generator, n: int = N_ORDERS, s: float = 1.0):
        w = 1.0 / np.arange(1, n + 1) ** s
        self._cdf = np.cumsum(w) / w.sum()
        self._key_of_rank = rng.permutation(n)
        self._rng = rng

    def draw(self, size: int) -> list[int]:
        ranks = np.searchsorted(self._cdf, self._rng.random(size), side="right")
        ranks = np.minimum(ranks, len(self._cdf) - 1)
        return [int(k) for k in self._key_of_rank[ranks]]

    def draw_distinct(self, size: int) -> list[int]:
        out: dict[int, None] = {}
        while len(out) < size:
            for k in self.draw(size):
                out.setdefault(k, None)
        return list(out)[:size]


def kv_write_cycles(seed: int, stream: int = 0) -> Iterator[dict]:
    """Endless cycles of one mutation batch (status puts + ``hits``
    increments on distinct keys) followed by point gets of keys the
    batch wrote, so every get checks read-your-writes.  ``stream``
    separates the warm-up sequence from the timed one."""
    rng = np.random.default_rng([seed, 2, stream])
    keys = ZipfKeys(rng)
    for c in itertools.count():
        touched = keys.draw_distinct(PUTS_PER_BATCH + INCREMENTS_PER_BATCH)
        puts = {k: f"S{c % 1000:03d}" for k in touched[:PUTS_PER_BATCH]}
        incs = {k: int(rng.integers(1, 10)) for k in touched[PUTS_PER_BATCH:]}
        half = GETS_PER_CYCLE // 2
        gets = [int(k) for k in rng.choice(list(puts), half, replace=False)]
        gets += [int(k) for k in rng.choice(list(incs), GETS_PER_CYCLE - half, replace=False)]
        yield {"puts": puts, "increments": incs, "gets": gets}


def batch_readback_keys(seed: int) -> list[list[int]]:
    """The key sets of one pass's read-back multi-gets: disjoint, each
    ``MULTIGET_KEYS`` keys."""
    rng = np.random.default_rng([seed, 3])
    keys = ZipfKeys(rng).draw_distinct(MULTIGET_KEYS * READBACKS_PER_PASS)
    return [sorted(keys[i:i + MULTIGET_KEYS]) for i in range(0, len(keys), MULTIGET_KEYS)]
