"""Seeded chain inputs: the serving chain with its side branches, and the
fork schedule the sync workload delivers batch by batch.

Everything is built with the repo's `ChainGen`; the seed drives the
chain, where the branches sit, and the schedule. The program under test
only ever sees the gzip JSON-lines files written here.
"""

from __future__ import annotations

import os
import random

from ergo_uexplorer_spark.fixtures import ChainGen, write_jsonl_gz_sharded
from ergo_uexplorer_spark.fixtures.chaingen import (
    EMISSION_TREE,
    EXCHANGE_PK,
    FEE_TREE,
    GENESIS_BOXES,
    GENESIS_EMISSION_BOX,
    GENESIS_ID,
    p2pk_tree,
)

VALUE_BASE = 10**12  # keeps cumulative sums inside int64 on long chains


def _tip(blocks: list[dict]) -> tuple[int, str]:
    h = blocks[-1]["header"]
    return h["height"], h["id"]


def chain_with_side_branches(
    seed: int, n_blocks: int, n_side: int, side_len: int = 3
) -> list[dict]:
    """A main chain plus `n_side` short stale branches (each `side_len`
    blocks, forking at seeded heights and ending below the tip, so they
    lose)."""
    rng = random.Random(seed)
    gen = ChainGen(seed=seed, value_base=VALUE_BASE)
    gen.generate(n_blocks)
    blocks = list(gen.blocks)
    for i in range(n_side):
        d = rng.randrange(2, n_blocks - side_len - 1)
        branch = gen.fork(d, 0, f"side{seed}-{i}")
        blocks += [b for b in branch if d <= b["header"]["height"] < d + side_len]
    return blocks


def write_sharded(blocks: list[dict], path: str, shards: int) -> int:
    """Sharded gzip JSON-lines; returns the bytes written."""
    write_jsonl_gz_sharded(blocks, path, shards=shards)
    return sum(
        os.path.getsize(os.path.join(path, f)) for f in os.listdir(path)
    )


def utxo_ids(blocks: list[dict]) -> set[str]:
    """Independent reference for the live set of a chain: every output
    box id minus every spent input id (genesis pseudo-boxes excluded)."""
    created, spent = set(), set()
    for b in blocks:
        for tx in b["transactions"]:
            created.update(o["boxId"] for o in tx["outputs"])
            spent.update(i["boxId"] for i in tx["inputs"])
    return created - (spent - GENESIS_BOXES)


def _replayed(prefix: list[dict], seed: int) -> ChainGen:
    """A generator whose spendable pool is the state after `prefix`, so
    the blocks it adds on top never double-spend (the same replay as
    `ChainGen.fork`, kept here so the branch can be extended later)."""
    gen = ChainGen(seed=seed, value_base=VALUE_BASE)
    gen.blocks = list(prefix)
    skip = (EMISSION_TREE, FEE_TREE, p2pk_tree(EXCHANGE_PK))
    spent = {i["boxId"] for b in prefix for t in b["transactions"] for i in t["inputs"]}
    gen.unspent = [
        (o["boxId"], o["value"])
        for b in prefix
        for t in b["transactions"]
        for o in t["outputs"]
        if o["ergoTree"] not in skip and o["boxId"] not in spent
    ]
    gen.emission_box = (
        prefix[-1]["transactions"][-1]["outputs"][0]["boxId"]
        if prefix
        else GENESIS_EMISSION_BOX
    )
    gen.minted_tokens = [
        a["tokenId"]
        for b in prefix
        for t in b["transactions"]
        for o in t["outputs"]
        for a in o["assets"]
        if t["inputs"] and a["tokenId"] == t["inputs"][0]["boxId"]
    ]
    return gen


# The batch kinds of one schedule cycle. Every seed runs the same cycle,
# so each run sees the same mix and commits the same sequence of state
# versions; the seed moves divergence points and contents.
CYCLE = ("extend", "extend", "win_mid", "win", "extend", "lose", "extend", "orphan", "extend")
EXTEND_BLOCKS = 50


class SyncSchedule:
    """The fork schedule: a base chain, then batches of these kinds, each
    of a fixed size so every run delivers the same volume:

    - `extend`: 50 blocks on the tip, one state version;
    - `win_mid`: 4 blocks diverging at one of the newest version's top
      three heights, so the branch ends above the tip and wins; the
      rollback must keep that version's blocks below the divergence
      (two commits: the kept slice, then the branch);
    - `win`: a branch diverging exactly at the newest version's first
      block and ending one block above the tip, so it wins and rolls
      back one whole version (one commit);
    - `lose`: 2 blocks diverging one to three blocks below the tip and
      ending at or below it (first seen wins: a no-op);
    - `orphan`: 3 blocks whose parent never arrives (a no-op).

    `expect` on each batch is the tip the state must show after it
    (None: the batch must be a no-op)."""

    def __init__(self, seed: int, base_blocks: int):
        self.rng = random.Random(seed * 7919 + 1)
        self.seed = seed
        self.gen = ChainGen(seed=seed, value_base=VALUE_BASE)
        self.gen.generate(base_blocks)
        self.chain = list(self.gen.blocks)
        self.version_start = 1  # first height of the newest state version
        self.n = 0

    def extend(self, k: int = EXTEND_BLOCKS) -> list[dict]:
        h, parent = _tip(self.chain)
        self.version_start = h + 1
        out = []
        for _ in range(k):
            h += 1
            b = self.gen.block(h, parent)
            parent = b["header"]["id"]
            out.append(b)
        self.chain += out
        return out

    def _branch(self, diverge: int, length: int, variant: str) -> tuple[list[dict], ChainGen]:
        prefix = self.chain[: diverge - 1]
        gen = _replayed(prefix, seed=self.seed * 31 + self.n)
        parent = prefix[-1]["header"]["id"] if prefix else GENESIS_ID
        out = []
        for h in range(diverge, diverge + length):
            b = gen.block(h, parent, variant=variant)
            parent = b["header"]["id"]
            out.append(b)
        return out, gen

    def _win(self, d: int, length: int, variant: str) -> list[dict]:
        blocks, self.gen = self._branch(d, length, variant)
        self.chain = self.chain[: d - 1] + blocks
        self.version_start = d
        return blocks

    def next(self) -> dict:
        kind = CYCLE[self.n % len(CYCLE)]
        self.n += 1
        tip_h, _tip_id = _tip(self.chain)
        variant = f"s{self.seed}b{self.n}"
        if kind == "extend":
            blocks = self.extend()
        elif kind == "win_mid":
            d = tip_h - self.rng.randint(0, 2)
            assert d > self.version_start, "win_mid must diverge inside the newest version"
            blocks = self._win(d, 4, variant)
        elif kind == "win":
            d = self.version_start
            blocks = self._win(d, tip_h - d + 2, variant)
        elif kind == "lose":
            blocks, _ = self._branch(tip_h - 1 - self.rng.randint(0, 2), 2, variant)
            return {"kind": kind, "blocks": blocks, "expect": None}
        else:
            # orphan: blocks above the tip whose parent never arrives
            foreign = ChainGen(seed=10_000 + self.seed * 97 + self.n)
            parent = "%064x" % self.rng.getrandbits(256)
            blocks = []
            for h in range(tip_h + 2, tip_h + 5):
                b = foreign.block(h, parent, variant=variant)
                parent = b["header"]["id"]
                blocks.append(b)
            return {"kind": kind, "blocks": blocks, "expect": None}
        return {"kind": kind, "blocks": blocks, "expect": _tip(self.chain)}
