"""Seeded chains for the benchmark, shared by the stub node and the runner.

Everything here is a pure function of the workload seed, so the node (a
separate process) and the runner (which checks the program's output)
build the same blocks independently.

A chain has two parts:

- the prefix, present from the start: a static history with skewed log
  density. Most blocks are sparse; three hot ranges carry enough
  matching logs that one nominal 100-block ``eth_getLogs`` exceeds the
  node's 10,000-result cap.
- the live schedule: blocks on a fixed clock after the prefix. Shortly
  after one block in ten, a fork replaces the top ``d`` blocks (``d`` in
  1..8, each equally often) with a new branch.

Logs carry six contracts and two event signatures; the workload filter
selects three contracts and one signature, a strict subset.
"""

from __future__ import annotations

import hashlib
import random
from dataclasses import dataclass, field

CHAIN_ID = 1337
RESULT_CAP = 10_000  # the node refuses eth_getLogs results above this
N_CONTRACTS = 6
FORK_EVERY = 10  # one fork per this many blocks
FORK_DEPTH_MAX = 8  # inside the tracker's 10-block backlog
FORK_AFTER_S = 0.025  # a fork lands this long after its parent block
FORK_GAP_S = 0.25  # and the next block this long after it
HEAD_RATE = 20.0  # head chain: blocks per second, about half the tracker's capacity

# Per-block log counts are drawn from seeded permutations of these fixed
# multisets (matching logs, other logs), so every seed yields the same
# density profile and the seed varies only where each count lands and
# every hash, address and payload.

# prefix
BACKFILL_BLOCKS = 8_000
BATCH = 100  # the tracker's nominal eth_getLogs range (FilterConfig.batch_size)
HOT_RANGES = 3  # one per third of the chain, at a seeded position
HOT_MATCHING = (105,)  # BATCH hot blocks exceed the cap, BATCH / 2 do not
HOT_NOISE = (0, 1, 2, 3)
SPARSE_MATCHING = (0, 0, 0, 0, 1, 1, 1, 2)
SPARSE_NOISE = (0, 0, 1, 1, 2, 3, 4, 5)

# live schedule
HEAD_LIVE_MATCHING = (1, 2, 3, 4)  # at least one, so every fork retracts rows
HEAD_LIVE_NOISE = (0, 1, 2, 3)


def hx(*parts) -> str:
    """A 32-byte hex id derived from ``parts``."""
    return "0x" + hashlib.sha256(":".join(map(str, parts)).encode()).hexdigest()


@dataclass(frozen=True)
class Block:
    number: int
    hash: str
    parent_hash: str
    logs: tuple  # provider-shaped log dicts, ordered by (tx_index, log_index)
    at: float | None = None  # scheduled production time, s after schedule start


@dataclass(frozen=True)
class Fork:
    at: float  # scheduled time, s after schedule start
    depth: int
    blocks: tuple  # the new branch, oldest first


@dataclass
class Chain:
    seed: int
    contracts: list[str]
    sigs: tuple[str, str]
    prefix: list[Block]  # blocks present before any schedule starts
    schedule: list = field(default_factory=list)  # Block | Fork, by time

    @property
    def addresses(self) -> tuple[str, ...]:
        """The workload filter's contract set."""
        return tuple(self.contracts[:3])

    @property
    def topics(self) -> tuple:
        """The workload filter's topics: one signature, any topic1."""
        return (self.sigs[0], None)

    def matches(self, lg: dict) -> bool:
        return lg["address"] in self.addresses and lg["topics"][0] == self.sigs[0]


def _logs(chain_seed: int, number: int, bhash: str, spec: list[tuple[str, str]]) -> tuple:
    """Provider-shaped logs for one block from (address, sig) pairs."""
    out = []
    for i, (addr, sig) in enumerate(spec):
        out.append(
            {
                "log_index": i,
                "tx_index": i // 2,
                "tx_hash": hx("tx", chain_seed, bhash, i // 2),
                "block_num": number,
                "block_hash": bhash,
                "address": addr,
                "topics": [sig, hx("t1", chain_seed, bhash, i)],
                "data": hashlib.sha256(f"{bhash}:{i}".encode()).digest(),
            }
        )
    return tuple(out)


class Counts:
    """Draws from seeded permutations of a fixed multiset, one after another."""

    def __init__(self, rng: random.Random, values: tuple[int, ...]) -> None:
        self.rng = rng
        self.values = values
        self.left: list[int] = []

    def __call__(self) -> int:
        if not self.left:
            self.left = self.rng.sample(self.values, len(self.values))
        return self.left.pop()


def _block(chain: Chain, rng: random.Random, number: int, parent: str, variant: int,
           n_match: int, n_noise: int, at: float | None = None) -> Block:
    """A block with ``n_match`` logs the workload filter selects and
    ``n_noise`` it does not."""
    bhash = hx("blk", chain.seed, number, variant)
    others = [(a, s) for a in chain.contracts for s in chain.sigs
              if not (a in chain.addresses and s == chain.sigs[0])]
    spec = [(rng.choice(chain.addresses), chain.sigs[0]) for _ in range(n_match)]
    spec += [rng.choice(others) for _ in range(n_noise)]
    rng.shuffle(spec)
    return Block(number, bhash, parent, _logs(chain.seed, number, bhash, spec), at)


def base(seed: int) -> Chain:
    """Genesis only: the contracts, signatures and filter of ``seed``."""
    contracts = ["0x" + hx("contract", seed, i)[2:42] for i in range(N_CONTRACTS)]
    sigs = (hx("sig", seed, 0), hx("sig", seed, 1))
    genesis = Block(0, hx("genesis", seed), "0x" + "00" * 32, ())
    return Chain(seed, contracts, sigs, [genesis])


def _batch_starts(matching: list[int]):
    """Start blocks of the range requests a tracker with the default
    additive-increase, multiplicative-decrease batching sends for these
    per-block matching counts, from block 0."""
    cur, size = 0, float(BATCH)
    while cur < len(matching):
        n = max(1, int(size))
        if sum(matching[cur : cur + n]) > RESULT_CAP and n > 1:
            size = max(1.0, size / 2)
            continue
        yield cur
        size = min(float(BATCH), size + BATCH / 10)
        cur += n


def backfill_chain(seed: int) -> Chain:
    """The prefix alone: sparse blocks, plus ``HOT_RANGES`` ranges of ``BATCH`` dense blocks.
    Each hot range starts where a range request of the nominal size
    starts, so every hot range costs the tracker exactly one refused
    request, whatever the seed."""
    chain = base(seed)
    rng = random.Random(f"backfill:{seed}")
    sparse_m, sparse_n = Counts(rng, SPARSE_MATCHING), Counts(rng, SPARSE_NOISE)
    hot_m, hot_n = Counts(rng, HOT_MATCHING), Counts(rng, HOT_NOISE)
    matching = [0] + [sparse_m() for _ in range(1, BACKFILL_BLOCKS)]
    third = BACKFILL_BLOCKS // HOT_RANGES
    for r in range(HOT_RANGES):
        want = r * third + rng.randrange(third // 4, third // 2)
        start = next(b for b in _batch_starts(matching) if b >= want)
        matching[start : start + BATCH] = [hot_m() for _ in range(BATCH)]
    hot = {n for n, m in enumerate(matching) if m in HOT_MATCHING}
    for n in range(1, BACKFILL_BLOCKS):
        noise = hot_n() if n in hot else sparse_n()
        chain.prefix.append(_block(chain, rng, n, chain.prefix[-1].hash, 0, matching[n], noise))
    return chain


def full_chain(seed: int, seconds: float) -> Chain:
    """The prefix plus a live schedule covering ``seconds`` at
    ``HEAD_RATE`` blocks/s on average. Each run of ``FORK_EVERY`` blocks
    holds one fork, at a seeded position, ``FORK_AFTER_S`` after its
    parent block; fork depths cycle through seeded permutations of 1..8,
    so every run of the same length carries the same reorg load.

    The next block comes ``FORK_GAP_S`` after the fork's parent and the
    other blocks of the run share the rest of its time evenly. The gap
    lets the tracker retract a fork before the next head arrives, so head
    latency times the new-block path and reorg latency the retraction
    path; a retraction slower than the gap spills into head latency."""
    chain = backfill_chain(seed)
    rng = random.Random(f"head:{seed}")
    live_m, live_n = Counts(rng, HEAD_LIVE_MATCHING), Counts(rng, HEAD_LIVE_NOISE)
    tip = list(chain.prefix[-FORK_DEPTH_MAX - 1 :])  # canonical top, for fork parents
    regular = (FORK_EVERY / HEAD_RATE - FORK_GAP_S) / (FORK_EVERY - 1)
    depths: list[int] = []
    fork_at = -1
    at, step = 0.0, 1 / HEAD_RATE
    for k in range(int(seconds * HEAD_RATE)):
        if k % FORK_EVERY == 0:
            fork_at = k + rng.randrange(FORK_EVERY)
        at += step
        step = regular
        parent = tip[-1]
        b = _block(chain, rng, parent.number + 1, parent.hash, 0, live_m(), live_n(), at)
        chain.schedule.append(b)
        tip = (tip + [b])[-FORK_DEPTH_MAX - 1 :]
        if k == fork_at:
            if not depths:
                depths = rng.sample(range(1, FORK_DEPTH_MAX + 1), FORK_DEPTH_MAX)
            depth = depths.pop()
            variant = len(chain.schedule)
            fat = at + FORK_AFTER_S
            branch = []
            parent = tip[-depth - 1]
            for _ in range(depth):
                nb = _block(chain, rng, parent.number + 1, parent.hash, variant, live_m(), live_n(), fat)
                branch.append(nb)
                parent = nb
            chain.schedule.append(Fork(fat, depth, tuple(branch)))
            tip = (tip[:-depth] + branch)[-FORK_DEPTH_MAX - 1 :]
            step = FORK_GAP_S
    return chain


def canonical_after(chain: Chain, n_events: int) -> list[Block]:
    """The canonical chain once the first ``n_events`` schedule events ran."""
    blocks = list(chain.prefix)
    for ev in chain.schedule[:n_events]:
        if isinstance(ev, Fork):
            del blocks[-ev.depth :]
            blocks.extend(ev.blocks)
        else:
            blocks.append(ev)
    return blocks
