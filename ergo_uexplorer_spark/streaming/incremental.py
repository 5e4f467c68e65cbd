"""Incremental chain sync (SURVEY §2.1 S7/S10, §2.3 C4-C5, C10).

The reference's periodic scheduler indexes new blocks into H2+MVStore
with per-block transactions and version-based rollback
(StreamScheduler.scala:25-64, MvStorage commit/rollbackTo). The Spark
shape is Structured Streaming over arriving block files with
`foreachBatch` applying the UTXO delta per micro-batch:

    utxo' = (utxo ∪ batch_outputs) ∖ batch_spent_inputs

On Delta-capable storage this is literally `MERGE INTO utxo` (insert
outputs / delete inputs) and `RESTORE VERSION AS OF` replaces
rollbackTo; this module implements the same contract on plain parquet
with versioned DELTA directories (state/utxo/v{n}/{created,spent}) —
each commit writes O(batch) rows, a periodic compaction materializes a
full base snapshot, and reads reconstruct base ∪ deltas ∖ spends. Delta
writes are atomic via write-then-rename and old versions are retained
for rollback (the reference keeps 10 MVStore versions).
"""

from __future__ import annotations

import json
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..operators import normalize as N
from ..operators.utxo import spent_inputs
from ..sources.blocks import BLOCK_SCHEMA

KEEP_VERSIONS = 10  # MvStorage.scala:298
COMPACT_EVERY = 10  # BlockWriter.scala:79-83 compaction cadence analog

# the per-version `headers/` sidecar; the same columns and types Spark
# writes for `_batch_headers`, so older Spark-written sidecars read alike
HEADER_SCHEMA = pa.schema(
    [
        ("block_id", pa.string()),
        ("height", pa.int32()),
        ("parent_id", pa.string()),
    ]
)
Header = tuple[str, int, str]  # (block_id, height, parent_id)


def _read_headers(hdir: str) -> list[Header]:
    """Header rows of one sidecar dir (none if the version has no
    sidecar), read on the driver; pyarrow skips Spark's `_SUCCESS` and
    `.crc` files."""
    if not os.path.exists(hdir):
        return []
    t = pq.read_table(hdir, columns=HEADER_SCHEMA.names)
    return list(zip(*(t.column(c).to_pylist() for c in HEADER_SCHEMA.names)))


def _spark_schema(d: str) -> StructType:
    """The schema Spark recorded in the footer of a part file it wrote
    under `d`, read on the driver. Spark's own parquet schema inference
    reads the same footer, but in a Spark job of its own per read."""
    part = min(
        n
        for n in os.listdir(d)
        if n.endswith(".parquet") and not n.startswith((".", "_"))
    )
    meta = pq.read_schema(os.path.join(d, part)).metadata
    return StructType.fromJson(
        json.loads(meta[b"org.apache.spark.sql.parquet.row.metadata"])
    )


class UtxoState:
    """Versioned UTXO state on plain parquet with **per-batch delta
    commits**: each version directory holds only the batch's `created/`
    rows and `spent/` box-ids — write volume is O(batch), never
    O(state). Every `compact_every`-th commit additionally materializes
    a full `base/` snapshot (the MVStore `compactFile` / Delta OPTIMIZE
    analog), so reads reconstruct from the newest base plus a bounded
    delta chain:

        state(v) = (base(b) ∪ created(b+1..v)) ∖ spent(b+1..v)

    Commits are atomic (tmp dir + rename); a crash between the rename
    and the base write only lengthens the delta chain, never corrupts.
    Rollback (S10 rollbackTo) drops newer version dirs; pruning removes
    only versions older than a base that the retained window no longer
    needs. On Delta-capable storage the whole class collapses to
    `MERGE INTO utxo` + `RESTORE VERSION AS OF`.

    The fork-aware path's `headers/` sidecar and `_tip` marker are tiny
    and always held on the driver already, so they are written and read
    there (pyarrow, plain files), never through a Spark job; the state
    dir is driver-local for the atomic renames anyway.
    """

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        compact_every: int = COMPACT_EVERY,
        keep_versions: int = KEEP_VERSIONS,
    ):
        self.spark = spark
        self.dir = os.path.join(state_dir, "utxo")
        self.compact_every = compact_every
        self.keep_versions = keep_versions
        os.makedirs(self.dir, exist_ok=True)

    def _vdir(self, v: int) -> str:
        return os.path.join(self.dir, f"v{v}")

    def _hdir(self, v: int) -> str:
        return os.path.join(self._vdir(v), "headers")

    def _read_parquet(self, *dirs: str) -> DataFrame:
        """Spark-written delta dirs that share one schema, read with the
        first dir's footer schema: no schema-inference job."""
        return self.spark.read.schema(_spark_schema(dirs[0])).parquet(*dirs)

    def _has_base(self, v: int) -> bool:
        return os.path.exists(os.path.join(self._vdir(v), "base"))

    def versions(self) -> list[int]:
        return sorted(
            int(d[1:]) for d in os.listdir(self.dir) if d.startswith("v")
        )

    def current_version(self) -> int:
        vs = self.versions()
        return vs[-1] if vs else 0

    def read(self, version: int | None = None) -> DataFrame | None:
        """Reconstruct the UTXO set at `version` from the newest base at
        or below it plus the (≤ compact_every + keep_versions) deltas
        above — a union + one anti-join, distributed end to end."""
        v = self.current_version() if version is None else version
        vs = [x for x in self.versions() if x <= v]
        if not vs:
            return None
        bases = [x for x in vs if self._has_base(x)]
        b = max(bases) if bases else 0
        created_dirs = [
            os.path.join(self._vdir(x), "created") for x in vs if x > b
        ]
        spent_dirs = [os.path.join(self._vdir(x), "spent") for x in vs if x > b]
        base_df = (
            self._read_parquet(os.path.join(self._vdir(b), "base"))
            if b
            else None
        )
        if not created_dirs:
            return base_df
        created = self._read_parquet(*created_dirs)
        merged = (
            created if base_df is None else base_df.unionByName(created)
        ).dropDuplicates(["box_id"])
        # spent dirs written before spends carried a height lack that
        # column; only box_id is read, so either dir's schema serves
        spent = self._read_parquet(*spent_dirs).select("box_id")
        return merged.join(spent, "box_id", "left_anti")

    def batch_version(self, batch_id: int) -> int | None:
        """Version already published for a streaming batch id, if any."""
        for v in self.versions():
            marker = os.path.join(self._vdir(v), "_batch_id")
            if os.path.exists(marker):
                with open(marker) as f:
                    if f.read().strip() == str(batch_id):
                        return v
        return None

    def _marker_tip(self, v: int) -> tuple[int, str] | None:
        """The `_tip` marker written by version `v` itself, if any."""
        marker = os.path.join(self._vdir(v), "_tip")
        if not os.path.exists(marker):
            return None
        with open(marker) as f:
            h, _, bid = f.read().strip().partition(":")
        return int(h), bid

    def tip(self, version: int | None = None) -> tuple[int, str] | None:
        """(height, block_id) recorded at `version` (default: newest
        version carrying one) — the chain cursor the fork-aware
        scheduler compares branches against."""
        v = self.current_version() if version is None else version
        for x in reversed([y for y in self.versions() if y <= v]):
            t = self._marker_tip(x)
            if t is not None:
                return t
        return None

    def applied_headers(self) -> dict[str, tuple[int, str]]:
        """{block_id: (height, parent_id)} over the RETAINED versions'
        header sidecars — the bounded recent-chain cache the reference's
        scheduler keeps in memory (C1): fork depth beyond the retention
        window is unrecoverable anyway, so this never grows O(chain).
        Read on the driver with pyarrow: no Spark job."""
        out: dict[str, tuple[int, str]] = {}
        for v in self.versions():
            for bid, h, parent in _read_headers(self._hdir(v)):
                out[bid] = (h, parent)
        return out

    def commit(
        self,
        created: DataFrame,
        spent: DataFrame,
        batch_id: int | None = None,
        headers: list[Header] | None = None,
        tip: tuple[int, str] | None = None,
    ) -> int:
        """O(batch) delta commit: write the batch's created rows and
        spent box-ids, atomically publish the version, then (on the
        compaction cadence) materialize the full snapshot and prune
        deltas the retained window no longer needs.

        `batch_id` makes the commit EXACTLY-ONCE under foreachBatch
        redelivery: Structured Streaming re-runs the last micro-batch
        after a crash between the sink write and the checkpoint commit,
        so the batch id is recorded inside the version dir (same atomic
        rename) and a replay returns the already-published version
        instead of double-applying (the reference gets this from
        MVStore's transactional per-block commit).

        `headers` are the committed blocks' `(block_id, height,
        parent_id)` rows, held by the caller on the driver; they are
        written there as one parquet file under `headers/` inside the
        same atomic rename, with no Spark job."""
        if batch_id is not None:
            existing = self.batch_version(batch_id)
            if existing is not None:
                return existing
        v = self.current_version() + 1
        tmp = os.path.join(self.dir, f".tmp_v{v}")
        # a crash can leave a half-written tmp dir: never publish its files
        shutil.rmtree(tmp, ignore_errors=True)
        created.write.mode("overwrite").parquet(os.path.join(tmp, "created"))
        # keep the spending block's height alongside the id: reads only
        # ever project box_id, but a mid-version fork rollback must split
        # a version's spends at the divergence height (see deltas_above)
        spent_cols = ["box_id"] + (
            ["height"] if "height" in spent.columns else []
        )
        spent.select(*spent_cols).write.mode("overwrite").parquet(
            os.path.join(tmp, "spent")
        )
        if batch_id is not None:
            with open(os.path.join(tmp, "_batch_id"), "w") as f:
                f.write(str(batch_id))
        if headers is not None:
            hdir = os.path.join(tmp, "headers")
            os.makedirs(hdir)
            rows = [dict(zip(HEADER_SCHEMA.names, r)) for r in headers]
            pq.write_table(
                pa.Table.from_pylist(rows, schema=HEADER_SCHEMA),
                os.path.join(hdir, "part-00000.parquet"),
            )
        if tip is not None:
            with open(os.path.join(tmp, "_tip"), "w") as f:
                f.write(f"{tip[0]}:{tip[1]}")
        os.rename(tmp, self._vdir(v))
        if self.compact_every and v % self.compact_every == 0:
            tmp_base = os.path.join(self._vdir(v), ".tmp_base")
            self.read(v).write.mode("overwrite").parquet(tmp_base)
            os.rename(tmp_base, os.path.join(self._vdir(v), "base"))
        self._prune(v)
        return v

    def _prune(self, current: int) -> None:
        """Drop versions strictly older than the newest base that still
        covers the whole retained rollback window."""
        window_lo = current - self.keep_versions + 1
        bases = [
            x for x in self.versions() if self._has_base(x) and x <= window_lo
        ]
        if not bases:
            return
        cutoff = max(bases)
        for old in self.versions():
            if old < cutoff:
                shutil.rmtree(self._vdir(old), ignore_errors=True)

    def rollback_to(self, version: int) -> None:
        """S10 rollbackTo(rev): drop newer versions (fork recovery)."""
        for v in self.versions():
            if v > version:
                shutil.rmtree(self._vdir(v), ignore_errors=True)

    def deltas_above(
        self, version: int, below_height: int
    ) -> tuple[DataFrame, DataFrame, list[Header]]:
        """(created, spent, headers) rows of the versions strictly above
        `version`, restricted to blocks BELOW `below_height` — the
        shared-ancestor slice a mid-version fork rollback must preserve
        (the divergence can fall inside a multi-block version, so the
        rolled-back versions hold blocks the arriving branch never
        re-supplies). created/spent are eagerly materialized
        (localCheckpoint) and the header rows are read into a driver
        list, so the caller may delete the source version dirs
        immediately after; volume is bounded by the retained rollback
        window, never O(state)."""
        vs = [v for v in self.versions() if v > version]
        cdirs = [os.path.join(self._vdir(v), "created") for v in vs]
        sdirs = [os.path.join(self._vdir(v), "spent") for v in vs]
        headers = [
            r
            for v in vs
            for r in _read_headers(self._hdir(v))
            if r[1] < below_height
        ]
        created = self.spark.read.parquet(*cdirs).filter(
            F.col("height") < below_height
        )
        # mergeSchema: a state dir upgraded mid-stream can hold both
        # height-attributed and pre-upgrade spent files; without the
        # merge the schema is inferred from ONE file, and pre-upgrade
        # rows would read height=NULL and silently drop out of the
        # preserved slice (resurrecting their spent boxes)
        spent = self.spark.read.option("mergeSchema", "true").parquet(*sdirs)
        if "height" not in spent.columns:
            raise RuntimeError(
                "fork diverges inside a version but its spent deltas are "
                "not height-attributed (pre-upgrade state) — cannot split "
                "the version at the divergence"
            )
        if spent.filter(F.col("height").isNull()).limit(1).count():
            raise RuntimeError(
                "fork diverges inside a version whose retained window "
                "mixes pre-upgrade (height-less) spent deltas — cannot "
                "split those versions at the divergence"
            )
        spent = spent.filter(F.col("height") < below_height)
        return (
            created.localCheckpoint(eager=True),
            spent.localCheckpoint(eager=True),
            headers,
        )


UTXO_COLS = (
    "box_id",
    "tx_id",
    "block_id",
    "height",
    "creation_height",
    "value",
    "ergo_tree",
    "ergo_tree_hash",
    "ergo_tree_t8_hash",
    "address",
)


def apply_block_batch(
    state: UtxoState, raw_batch: DataFrame, batch_id: int | None = None
) -> int:
    """C4/C5 per-batch UTXO application as a pure DELTA: the commit
    writes only this batch's outputs and spent ids (O(batch) I/O —
    MvStorage's per-block commit contract, never a full-state rewrite).
    Idempotence: re-applying the same content re-writes the same delta
    and reconstruction union-dedups by box_id; passing the streaming
    `batch_id` upgrades that to exactly-once (no duplicate version on
    foreachBatch redelivery)."""
    out = N.outputs(raw_batch)
    trees = N.ergo_trees(out)
    new_boxes = N.boxes(out, trees).select(*UTXO_COLS)
    spent = spent_inputs(N.inputs(raw_batch)).select("box_id", "height")
    return state.commit(new_boxes, spent, batch_id=batch_id)


def _batch_headers(raw_batch: DataFrame) -> DataFrame:
    return raw_batch.select(
        F.col("header.id").alias("block_id"),
        F.col("header.height").alias("height"),
        F.col("header.parentId").alias("parent_id"),
    )


def apply_block_batch_forkaware(
    state: UtxoState,
    raw_batch: DataFrame,
    batch_id: int | None = None,
    genesis_parent: str | None = None,
) -> int | None:
    """C3-under-streaming: per-batch UTXO application with the
    reference scheduler's fork handling (StreamScheduler.scala:25-64,
    BlockWriter.scala:35-77 winning-branch semantics):

    - batch extends the tip → plain delta commit;
    - batch is a branch diverging below the tip → applied ONLY if its
      best linked tip is strictly higher than the current one (longest
      chain wins; the same-height incumbent keeps — first-seen-wins,
      BlockWriter.scala:66-69): `rollback_to` the newest version wholly
      below the divergence, then commit the branch's blocks from the
      divergence up as one new version. When the divergence falls in the
      MIDDLE of a multi-block version, the rolled-back versions' deltas
      below the divergence height are preserved and re-committed first
      (the branch never re-supplies shared-ancestor blocks);
    - losing / orphan branch → no-op (returns None).

    Driver-side work is O(|batch headers| + retained window): only the
    3-string header tuples are collected, never block bodies — the same
    bounded recent-chain cache the reference scheduler holds in memory.
    That collect is the only Spark job a losing or orphan batch runs:
    the retained headers and tips are read on the driver.
    Fork depth beyond the rollback retention raises (the reference
    cannot rewind past its kept MVStore versions either)."""
    if batch_id is not None:
        existing = state.batch_version(batch_id)
        if existing is not None:
            return existing
    hdrs = {
        r["block_id"]: (r["height"], r["parent_id"])
        for r in _batch_headers(raw_batch).collect()
    }
    if not hdrs:
        return None
    applied = state.applied_headers()
    cur_tip = state.tip()

    # best linked tip in the batch: walk parents through batch headers
    # until hitting an applied block (divergence anchor) or a chain root
    best: tuple[int, str, int] | None = None  # (tip_h, tip_id, diverge_h)
    parents = {p for (_h, p) in hdrs.values()}
    for bid, (h, _p) in hdrs.items():
        if bid in parents:
            continue  # not a tip within the batch
        node, anchor_child_h = bid, None
        seen = set()
        while node in hdrs and node not in seen:
            seen.add(node)
            nh, parent = hdrs[node]
            if parent in applied or (
                nh == 1 and (genesis_parent is None or parent == genesis_parent)
            ):
                anchor_child_h = nh
                break
            node = parent
        if anchor_child_h is None:
            continue  # orphan: parent chain leaves batch without anchoring
        if best is None or h > best[0]:
            best = (h, bid, anchor_child_h)
    if best is None:
        return None
    tip_h, tip_id, diverge_h = best
    # winning path ids from the tip down to the divergence (walked up
    # front: the divergence block's parent is the shared ancestor the
    # mid-version rollback below must restore the state floor to)
    path, node, ancestor_id = [], tip_id, None
    while node in hdrs:
        path.append(node)
        nh, parent = hdrs[node]
        if nh == diverge_h:
            ancestor_id = parent
            break
        node = parent
    if cur_tip is not None and diverge_h <= cur_tip[0]:
        # branch: strictly-longer wins, ties keep the incumbent
        if tip_h <= cur_tip[0]:
            return None
        # newest version whose tip lies below the divergence, in one pass
        # over the markers (a version without one inherits the last tip)
        target = target_tip = t = None
        for v in state.versions():
            t = state._marker_tip(v) or t
            if t is not None and t[0] < diverge_h:
                target, target_tip = v, t
        if target is None and diverge_h > 1:
            raise RuntimeError(
                f"fork at height {diverge_h} is below the retained rollback "
                f"window — cannot rewind (reference keeps {KEEP_VERSIONS} "
                "versions too)"
            )
        preserved = None
        if (
            target is not None
            and diverge_h > 1
            and target_tip[0] != diverge_h - 1
        ):
            # the divergence falls INSIDE a version (e.g. versions cover
            # [1..7],[8..10] and the fork parent is block 9): rolling back
            # to the newest version below the divergence would also drop
            # the shared-ancestor blocks 8..9, which the arriving branch
            # does not re-supply. Preserve that sub-version slice and
            # re-commit it as the post-rollback floor, exactly as if the
            # version boundary had fallen on the divergence.
            preserved = state.deltas_above(target, diverge_h)
        state.rollback_to(target or 0)
        if preserved is not None:
            keep_created, keep_spent, keep_headers = preserved
            state.commit(
                keep_created,
                keep_spent,
                headers=keep_headers,
                tip=(diverge_h - 1, ancestor_id),
            )
    win = (
        raw_batch
        if len(path) == len(hdrs)  # pure append: the whole batch wins
        else raw_batch.filter(F.col("header.id").isin(path))
    )
    out = N.outputs(win)
    trees = N.ergo_trees(out)
    new_boxes = N.boxes(out, trees).select(*UTXO_COLS)
    spent = spent_inputs(N.inputs(win)).select("box_id", "height")
    return state.commit(
        new_boxes,
        spent,
        batch_id=batch_id,
        headers=[(b, *hdrs[b]) for b in reversed(path)],
        tip=(tip_h, tip_id),
    )


def incremental_sync(
    spark: SparkSession,
    blocks_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    state: "UtxoState | None" = None,
    fork_aware: bool = False,
    token_rollup=None,
):
    """C10: Structured Streaming over arriving block files; one UTXO
    version per micro-batch. `Trigger.AvailableNow` drains the backlog
    then stops (the batch-catchup mode); leave it False for continuous
    tailing of a node dump directory. Pass `state` to run against a
    different versioned backend (e.g. `delta_state.DeltaUtxoState`).
    `fork_aware=True` routes each micro-batch through the reference
    scheduler's branch resolution (rollback + winning-chain re-apply;
    parquet `UtxoState` backend — it needs the tip/header sidecars).

    `token_rollup` (a `token_rollup.TokenStatsRollup`) additionally
    maintains the q15b top-tokens aggregate per micro-batch — the
    serving answer the r11 layout A/B named (SCALE.md: both disk
    layouts lose to a full scan; the rollup serves top-K from the
    token DIMENSION). Supported on the linear path only: a fork-aware
    deployment must drive the rollup from the same branch resolution
    that drives the UTXO state (winning slice + matched rollback
    version), which is the caller's integration, so combining the two
    flags raises rather than silently maintaining a rollup that forks
    would corrupt."""
    state = state or UtxoState(spark, state_dir)
    if token_rollup is not None and fork_aware:
        raise ValueError(
            "token_rollup under fork_aware needs the branch resolution "
            "to drive both states — wire apply_block_batch_forkaware's "
            "winning slice into the rollup explicitly"
        )
    stream = spark.readStream.schema(BLOCK_SCHEMA).json(blocks_dir)

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if fork_aware:
            apply_block_batch_forkaware(state, batch_df, batch_id=batch_id)
        else:
            apply_block_batch(state, batch_df, batch_id=batch_id)
            if token_rollup is not None:
                token_rollup.commit(
                    N.assets(N.outputs(batch_df)), batch_id=batch_id
                )

    writer = (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
