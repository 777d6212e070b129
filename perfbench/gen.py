"""Seeded input generators for the temporal-engine benchmark.

Everything the engine sees is produced here from a seed: the serve store's
flush-sized batches, the live block stream with its side forks, and the bulk
backfill changelog. The same seed always yields the same rows, and the
oracle models in `model.py` are built from these rows, never from engine
output.

Rows are CHANGELOG_SCHEMA tuples:
(collection, tablet_id, height, primary_key, value, is_deletion, block_id,
block_num). Within one block a (tablet_id, primary_key) pair appears at most
once, so last-write-wins per height is never ambiguous.
"""

from __future__ import annotations

import bisect
import itertools
import random
from dataclasses import dataclass

COLLECTION = "evt"
# A scale choice, not a chain measurement: it keeps the pipeline's 5,000-row
# flush at 250 blocks and a deep-finality overlay at ~6,600 rows. Overlay
# rows scale as finality depth x rows per block.
ROWS_PER_BLOCK = 20
FLUSH_SIZED_BLOCKS = 250  # 250 blocks x 20 rows = the pipeline's 5,000-row flush


@dataclass(frozen=True)
class Shape:
    """The key space blocks draw from."""

    tablets: int = 16
    keys_per_tablet: int = 400
    singlets: int = 24
    singlet_share: float = 0.15
    deletion_share: float = 0.05
    zipf_s: float = 1.1


def tablet_name(i: int) -> str:
    return f"tab{i:02d}"


def singlet_name(i: int) -> str:
    return f"sgl{i:02d}"


def key_name(i: int) -> str:
    return f"k{i:05d}"


def block_id(height: int, branch: int = 0) -> str:
    """Main-chain blocks end in 'a'; side forks use later letters."""
    return f"{height:08x}{'abcdefgh'[branch]}"


class Zipf:
    """Bounded Zipf sampler over ranks 0..n-1 (rank 0 most frequent)."""

    def __init__(self, n: int, s: float):
        self._cum = list(itertools.accumulate(1.0 / (r + 1) ** s for r in range(n)))

    def sample(self, rng: random.Random) -> int:
        return bisect.bisect_left(self._cum, rng.random() * self._cum[-1])


class BlockMaker:
    """Builds the rows of one block from a seeded RNG."""

    def __init__(self, shape: Shape):
        self.shape = shape
        self.keys = Zipf(shape.keys_per_tablet, shape.zipf_s)

    def rows(self, rng: random.Random, height: int, bid: str) -> list[tuple]:
        sh = self.shape
        seen: set[tuple[str, str]] = set()
        out = []
        while len(out) < ROWS_PER_BLOCK:
            if rng.random() < sh.singlet_share:
                tablet, pk = singlet_name(rng.randrange(sh.singlets)), ""
            else:
                tablet = tablet_name(rng.randrange(sh.tablets))
                pk = key_name(self.keys.sample(rng))
            if (tablet, pk) in seen:
                continue
            seen.add((tablet, pk))
            deleted = rng.random() < sh.deletion_share
            value = None if deleted else f"v{height}-{rng.getrandbits(40):010x}"
            out.append((COLLECTION, tablet, height, pk, value, deleted, bid, height))
        return out


def chain_batches(
    seed: int, shape: Shape, n_batches: int, first_height: int = 1
) -> list[list[tuple]]:
    """`n_batches` flush-sized batches of consecutive main-chain blocks."""
    rng = random.Random(seed)
    maker = BlockMaker(shape)
    h = first_height
    batches = []
    for _ in range(n_batches):
        rows: list[tuple] = []
        for _ in range(FLUSH_SIZED_BLOCKS):
            rows.extend(maker.rows(rng, h, block_id(h)))
            h += 1
        batches.append(rows)
    return batches


@dataclass(frozen=True)
class Step:
    """One event of the live stream: a new block or a finality signal."""

    kind: str  # "new" | "irreversible"
    block_id: str
    block_num: int
    parent_id: str = ""
    rows: tuple = ()


@dataclass(frozen=True)
class Chain:
    """Finality and fork traffic of a chain the engine follows.

    The two profiles below bracket the chains the reference indexes (it
    ships EOSIO and Ethereum layers); NOTES.md gives the source of each
    number. The finality depth sets how many blocks the reversible segment
    holds, so it sets the size of the overlay every head read rebuilds."""

    name: str
    finality_depth: int  # blocks from the main tip back to the last final block
    fork_share: float  # share of heights whose main block a one-block side fork precedes


# Ethereum under proof of work: no protocol finality, so the common
# 12-confirmation rule; one-block side forks (ommers) on ~6% of blocks.
SHALLOW = Chain("shallow", finality_depth=12, fork_share=0.06)
# EOSIO (BFT-DPoS, 21 producers, 12-block turns): a block is final after two
# rounds of confirmation by 2/3+1 producers, 2 x 14 x 12 = 336 blocks, less
# its place in its producer's turn, so 324..336; no forks in normal running.
DEEP = Chain("deep", finality_depth=330, fork_share=0.0)


def block_stream(seed: int, shape: Shape, first_height: int, parent_id: str, chain: Chain = SHALLOW):
    """Endless seeded stream of Steps for IngestPipeline.

    The main chain advances one height per block. With probability
    `chain.fork_share` a one-block side fork branches off the main tip and
    briefly becomes the head; the next main block reorgs it away, so the
    fork block is orphaned and never becomes irreversible. Finality lags
    the main tip by `chain.finality_depth` blocks.
    """
    rng = random.Random(f"stream-{seed}-{chain.name}")
    maker = BlockMaker(shape)
    main: list[str] = []  # main-chain ids from first_height upward
    tip_id, h = parent_id, first_height
    while True:
        if main and rng.random() < chain.fork_share:
            bid = block_id(h, 1)
            yield Step("new", bid, h, tip_id, tuple(maker.rows(rng, h, bid)))
        bid = block_id(h)
        yield Step("new", bid, h, tip_id, tuple(maker.rows(rng, h, bid)))
        main.append(bid)
        tip_id = bid
        final = h - chain.finality_depth
        if final >= first_height:
            yield Step("irreversible", main[final - first_height], final)
        h += 1


def backfill_frame(seed: int, n_rows: int, n_heights: int, tablets: int, keys: int):
    """Bulk changelog as a pandas DataFrame (CHANGELOG_SCHEMA columns).

    Heights 1..n_heights each carry about n_rows / n_heights rows. Keys are
    Zipf-skewed (s = 1.3) per tablet and clipped at the last key, which is
    therefore a second hot key; rows are deduplicated per (height, tablet,
    key)."""
    import numpy as np
    import pandas as pd

    rng = np.random.Generator(np.random.PCG64(seed))
    height = rng.integers(1, n_heights + 1, n_rows)
    tablet = rng.integers(0, tablets, n_rows)
    key = np.minimum(rng.zipf(1.3, n_rows) - 1, keys - 1)
    # every height carries a row, and the last height one row per tablet:
    # every shard then reaches n_heights, which `--finalize` (the minimum
    # over the shards' highest heights) takes as the final checkpoint
    height[:n_heights] = np.arange(1, n_heights + 1)
    height[n_heights : n_heights + tablets] = n_heights
    tablet[n_heights : n_heights + tablets] = np.arange(tablets)
    ident = (height * tablets + tablet) * keys + key
    _, first = np.unique(ident, return_index=True)
    first.sort()
    height, tablet, key = height[first], tablet[first], key[first]
    deleted = rng.random(len(first)) < 0.05
    salt = rng.integers(0, 1 << 40, len(first))
    order = np.lexsort((key, tablet, height))
    height, tablet, key, deleted, salt = (
        a[order] for a in (height, tablet, key, deleted, salt)
    )
    values = [
        None if d else f"v{h}-{s:010x}" for h, d, s in zip(height.tolist(), deleted.tolist(), salt.tolist())
    ]
    return pd.DataFrame(
        {
            "collection": COLLECTION,
            "tablet_id": [tablet_name(t) for t in tablet.tolist()],
            "height": height.astype("int64"),
            "primary_key": [key_name(k) for k in key.tolist()],
            "value": values,
            "is_deletion": deleted,
            "block_id": [block_id(h) for h in height.tolist()],
            "block_num": height.astype("int64"),
        }
    )
