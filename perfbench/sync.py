"""`sync`: tip-following through `streaming.incremental.
apply_block_batch_forkaware` on a parquet `UtxoState`. Closed loop, one
client: each batch of the seeded fork schedule is applied, its outcome
checked against the schedule, then the state is read back, so writes
run beside reads.

A run applies a fixed number of whole schedule cycles, one per
`CYCLE_S` seconds asked for (at least one), whatever the host's speed,
so every run measures the same batches. Every cycle commits the same
sequence of state versions, and set-up commits the base chain and four
warm-up extensions, so the seventh batch of the first cycle commits
version 10, a compaction (`COMPACT_EVERY`), in every run.
"""

from __future__ import annotations

import os
import time

from ergo_uexplorer_spark.fixtures import write_jsonl_gz

from . import chainfix
from .core import Recorder, dir_bytes, median

BASE_BLOCKS = 300
WARM_BATCHES = 4  # extensions committed at set-up (versions 2..5)
CYCLE_S = 25  # about one cycle's time on a 4-core host


def _state_class(rec: Recorder | None):
    """The plain `UtxoState`, or (traced run) one whose state calls are
    timed from outside: commit, compaction, header cache and rollback."""
    from ergo_uexplorer_spark.streaming.incremental import UtxoState

    if rec is None:
        return UtxoState

    class TimedState(UtxoState):
        def commit(self, created, spent, batch_id=None, headers=None, tip=None):
            v = self.current_version() + 1
            call = "compact_commit" if self.compact_every and v % self.compact_every == 0 else "commit"
            if batch_id is None and headers is not None:
                call = "rollback_recommit"  # preserved slice below a mid-version fork
            with rec.span("streaming", call):
                return super().commit(created, spent, batch_id, headers, tip)

        def applied_headers(self):
            with rec.span("streaming", "applied_headers"):
                return super().applied_headers()

        def rollback_to(self, version):
            with rec.span("streaming", "rollback_to"):
                return super().rollback_to(version)

        def deltas_above(self, version, below_height):
            with rec.span("streaming", "deltas_above"):
                return super().deltas_above(version, below_height)

    return TimedState


def setup(spark, rec: Recorder, seed: int, seconds: float, run_dir: str) -> dict:
    from ergo_uexplorer_spark.sources.blocks import read_blocks
    from ergo_uexplorer_spark.streaming.incremental import apply_block_batch_forkaware

    work_dir = os.path.join(run_dir, "sync")
    os.makedirs(work_dir, exist_ok=True)
    t0 = time.perf_counter()
    with rec.span("fixtures", "sync_schedule"):
        sched = chainfix.SyncSchedule(seed, BASE_BLOCKS)
        warm = [list(sched.chain)] + [sched.extend() for _ in range(WARM_BATCHES)]
        base_chain = list(sched.chain)
        batches = []
        for i in range(max(1, round(seconds / CYCLE_S)) * len(chainfix.CYCLE)):
            b = sched.next()
            b["chain_after"] = list(sched.chain)
            b["path"] = write_jsonl_gz(b["blocks"], os.path.join(work_dir, f"b{i}.jsonl.gz"))
            batches.append(b)
        warm_paths = [
            write_jsonl_gz(w, os.path.join(work_dir, f"w{i}.jsonl.gz"))
            for i, w in enumerate(warm)
        ]
    rec.add("fixtures.gen_s", time.perf_counter() - t0)
    state = _state_class(rec if rec.trace else None)(spark, os.path.join(work_dir, "state"))
    with rec.span("streaming", "setup_commits"):
        for i, p in enumerate(warm_paths):
            apply_block_batch_forkaware(state, read_blocks(spark, p), batch_id=i)
        state.read().count()  # the first read pays its plan's warm-up here
    return {
        "state": state,
        "batches": batches,
        "first_batch_id": len(warm_paths),
        "base_chain": base_chain,
    }


def _delta_chain_len(state) -> int:
    """Delta versions above the newest compacted base (the chain a read
    reconstructs)."""
    vs = state.versions()
    bases = [v for v in vs if os.path.exists(os.path.join(state.dir, f"v{v}", "base"))]
    top = max(bases) if bases else 0
    return sum(1 for v in vs if v > top)


def measure(spark, rec: Recorder, env: dict, seed: int, seconds: float) -> dict:
    from ergo_uexplorer_spark.sources.blocks import read_blocks
    from ergo_uexplorer_spark.streaming.incremental import apply_block_batch_forkaware

    state = env["state"]
    attempted = failed = blocks = 0
    applied_chain = env["base_chain"]
    t_start = time.perf_counter()
    for i, b in enumerate(env["batches"]):
        attempted += 1
        before = state.current_version()
        tip_before = state.tip()
        t0 = time.perf_counter()
        try:
            with rec.span("streaming", "apply", kind=b["kind"], n_blocks=len(b["blocks"])) as sp:
                v = apply_block_batch_forkaware(
                    state, read_blocks(spark, b["path"]), batch_id=env["first_batch_id"] + i
                )
            t1 = time.perf_counter()
            if rec.trace:
                new = [x for x in state.versions() if x > before]
                sp["bytes_written"] = sum(
                    dir_bytes(os.path.join(state.dir, f"v{x}")) for x in new
                )
            want = b["expect"]
            if (v is None) != (want is None) or state.tip() != (want or tip_before):
                raise AssertionError(
                    f"batch {i} ({b['kind']}): returned {v}, tip {state.tip()}, want {want or tip_before}"
                )
            if want is not None:
                applied_chain = b["chain_after"]
            t2 = time.perf_counter()
            with rec.span("streaming", "read", delta_chain_len=_delta_chain_len(state)):
                state.read().count()
            t3 = time.perf_counter()
        except Exception as exc:  # noqa: BLE001 - a failed batch is counted, not fatal
            failed += 1
            print(f"sync: batch {i} ({b['kind']}): {type(exc).__name__}: {exc}"[:400], flush=True)
            continue
        blocks += len(b["blocks"])
        rec.add("op_ms", (t1 - t0) * 1000)
        rec.add("read_ms", (t3 - t2) * 1000)
        rec.add(f"apply_ms.{b['kind']}", (t1 - t0) * 1000)
    wall = time.perf_counter() - t_start
    return {
        "attempted": attempted,
        "failed": failed,
        "wall_s": wall,
        "work_units": blocks,
        "applied_chain": applied_chain,
    }


def check(spark, env: dict, result: dict, run_dir: str) -> list[str]:
    """The final state must equal the live set of the winning chain,
    computed independently from the generated blocks."""
    got = {r["box_id"] for r in env["state"].read().select("box_id").collect()}
    want = chainfix.utxo_ids(result["applied_chain"])
    if got == want:
        return []
    return [
        f"final state: {len(got)} boxes, winning chain has {len(want)}; "
        f"{len(got - want)} extra, {len(want - got)} missing"
    ]


def layer_metrics(rec: Recorder, env: dict) -> dict:
    applies = rec.spans_of("streaming", "apply")
    reads = rec.spans_of("streaming", "read")

    def within(a, calls):
        return [s for s in rec.spans if s["call"] in calls and a["t0"] <= s["t0"] <= a["t1"]]

    def p50_s(spans):
        return median([s["t1"] - s["t0"] for s in spans])

    def in_batches(call):
        return [s for a in applies for s in within(a, (call,))]

    rollbacks = [
        sum(s["t1"] - s["t0"] for s in parts)
        for parts in (within(a, ("rollback_to", "deltas_above", "rollback_recommit")) for a in applies)
        if parts
    ]
    commit_s = p50_s(in_batches("commit"))
    n_blocks = sum(a["n_blocks"] for a in applies if a["kind"] in ("extend", "win", "win_mid"))
    m = {
        "streaming.apply_s": p50_s(applies),
        "streaming.commit_s": commit_s,
        "streaming.applied_headers_s": p50_s(in_batches("applied_headers")),
        "streaming.compact_s": max(p50_s(in_batches("compact_commit")) - commit_s, 0.0),
        "streaming.rollback_s": median(rollbacks),
        "streaming.jobs_per_batch": sum(a["jobs"] for a in applies) / max(len(applies), 1),
        "streaming.bytes_written_per_block": sum(a.get("bytes_written", 0) for a in applies) / max(n_blocks, 1),
        "streaming.state_bytes": dir_bytes(env["state"].dir),
        "streaming.read_s": p50_s(reads),
        "streaming.delta_chain_len": median([s["delta_chain_len"] for s in reads]),
    }
    for kind in sorted(set(chainfix.CYCLE)):
        m[f"streaming.jobs_per_batch.{kind}"] = median([a["jobs"] for a in applies if a["kind"] == kind])
    return m
