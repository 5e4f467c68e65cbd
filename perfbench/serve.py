"""`serve`: a seeded route mix through `api.endpoint` against tables
ingested, written to parquet and persisted at set-up (the serving
posture of `tools/scale_chain_bench.py`). Closed loop, one client.

Set-up runs the chain ingest (`pipeline.ingest_blocks` +
`materialize_tables` with `storage` writers), so the ingest layers are
measured here too: end to end through `setup_s`, and layer by layer in
the traced run, which also decomposes the ingest call by call.
"""

from __future__ import annotations

import os
import random
import threading
import time

import duckdb

from . import chainfix
from .core import Recorder, dir_bytes, median

N_BLOCKS = 2000
N_SIDE = 3  # stale side branches in the chain (off-chain blocks)
SHARDS = 8
TOP_K = 100
SERVED = ("boxes_main", "inputs_main", "assets", "blocks", "address_stats")

# route class -> layer whose operator answers it. Every class is asked
# equally often: one cycle asks each once, in an order the seed shuffles,
# and a run asks whole cycles only, so every run asks the same mix and
# only the order and keys differ
MIX = {
    "by_id": "operators.boxes",
    "unspent_by_address": "operators.boxes",
    "spent_by_address": "operators.boxes",
    "by_token": "operators.boxes",
    "top_stats": "operators.stats",
    "blocks_latest": "operators.boxes",
    "info": "operators.boxes",
}
STATS_ROUTES = (
    "stats/top-addresses/by-box-count",
    "stats/top-addresses/by-value",
    "stats/top-tokens/by-box-count",
)


def _lakehouse_writer(root: str, busy: list):
    from ergo_uexplorer_spark import storage

    lock = threading.Lock()

    def write(name, df):
        t0 = time.perf_counter()
        path = os.path.join(root, name)
        if name == "utxo":
            storage.write_fact(df, path, storage.FACT_SORT_KEYS["boxes"])
        else:
            storage.write_dimension(df, path)
        with lock:
            busy.append(time.perf_counter() - t0)

    return write


def ingest(spark, rec: Recorder, chain_dir: str, lake: str) -> dict:
    """The catch-up ingest: `pipeline.ingest_blocks` over the sharded
    dump, then `materialize_tables` with the three gold sinks written
    to parquet by `storage`, overlapped."""
    from ergo_uexplorer_spark.pipeline import ingest_blocks, materialize_tables

    busy: list[float] = []
    with rec.span("pipeline", "ingest_blocks"):
        tables = ingest_blocks(spark, chain_dir, cache="raw")
    with rec.span("pipeline", "materialize_tables") as mat:
        materialize_tables(tables, writer=_lakehouse_writer(lake, busy))
    mat["sink_busy_s"] = sum(busy)
    return tables


def setup(spark, rec: Recorder, seed: int, seconds: float, run_dir: str) -> dict:
    work_dir = os.path.join(run_dir, "serve")
    t0 = time.perf_counter()
    with rec.span("fixtures", "chain_with_side_branches"):
        blocks = chainfix.chain_with_side_branches(seed, N_BLOCKS, N_SIDE)
        chain_dir = os.path.join(work_dir, "chain")
        bytes_in = chainfix.write_sharded(blocks, chain_dir, SHARDS)
        main_utxo = chainfix.utxo_ids(blocks[:N_BLOCKS])
    rec.add("fixtures.gen_s", time.perf_counter() - t0)
    lake = os.path.join(work_dir, "lake")
    tables = ingest(spark, rec, chain_dir, lake)
    with rec.span("api", "persist_serving_tables"):
        served = {n: tables[n].persist() for n in SERVED}
        for df in served.values():
            df.count()
    tables["raw"].unpersist()
    return {
        "tables": served,
        "keys": _draw_keys(served),
        "n_blocks": len(blocks),
        "main_utxo": main_utxo,
        "bytes_in": bytes_in,
        "chain_dir": chain_dir,
        "lake": lake,
    }


def _draw_keys(t: dict) -> dict:
    """Key universes for the draws, each key with the number of boxes
    that carry it: an address or token is asked for as often as a box
    drawn at random would name it, so the exchange supernode, which
    holds the most boxes, is the most frequent address."""
    from ergo_uexplorer_spark.operators.boxes import address_to_ergo_tree

    def counted(df, col):
        rows = sorted((r[col], r["count"]) for r in df.groupBy(col).count().collect())
        return [k for k, _n in rows], [n for _k, n in rows]

    addresses, weights = counted(t["boxes_main"], "address")
    routable = []
    for a, n in zip(addresses, weights):
        try:
            address_to_ergo_tree(a)
        except ValueError:
            continue  # fallback address of a malformed tree: not routable
        routable.append((a, n))
    tokens, token_weights = counted(t["assets"], "token_id")
    box_ids = sorted(r["box_id"] for r in t["boxes_main"].select("box_id").collect())
    return {
        "addresses": ([a for a, _n in routable], [n for _a, n in routable]),
        "tokens": (tokens, token_weights),
        "box_ids": box_ids,
    }


def _weighted(rng: random.Random, keys: tuple[list, list]):
    return rng.choices(keys[0], weights=keys[1])[0]


def _request(rng: random.Random, keys: dict, cls: str) -> tuple[str, list | None, int]:
    if cls == "by_id":
        return "boxes/any/by-id", [rng.choice(keys["box_ids"])], TOP_K
    if cls == "unspent_by_address":
        return "boxes/unspent/by-address", [_weighted(rng, keys["addresses"])], TOP_K
    if cls == "spent_by_address":
        return "boxes/spent/by-address", [_weighted(rng, keys["addresses"])], TOP_K
    if cls == "by_token":
        return "boxes/unspent/by-token-id", [_weighted(rng, keys["tokens"])], TOP_K
    if cls == "top_stats":
        return rng.choice(STATS_ROUTES), None, TOP_K
    if cls == "blocks_latest":
        return "blocks/latest", None, 10
    return "info", None, TOP_K


def measure(spark, rec: Recorder, env: dict, seed: int, seconds: float) -> dict:
    from ergo_uexplorer_spark import api

    keys = env["keys"]
    rng = random.Random(seed * 1_000_003 + 17)
    responses = []
    pending: list[str] = []
    attempted = failed = 0
    t_start = time.perf_counter()
    deadline = t_start + seconds
    while pending or time.perf_counter() < deadline:
        if not pending:
            pending = list(MIX)
            rng.shuffle(pending)
        cls = pending.pop()
        route, k, limit = _request(rng, keys, cls)
        attempted += 1
        t0 = time.perf_counter()
        try:
            with rec.span("api", f"query.{cls}") as q:
                with rec.span("api", f"plan.{cls}"):
                    df = api.endpoint(env["tables"], route, keys=k, limit=limit)
                    df._jdf.queryExecution().executedPlan()  # driver plan build
                t1 = time.perf_counter()
                with rec.span(MIX[cls], f"exec.{cls}"):
                    rows = df.collect()
                q["rows_returned"] = len(rows)
            t2 = time.perf_counter()
        except Exception as exc:  # noqa: BLE001 - a failed call is counted, not fatal
            failed += 1
            print(f"serve: {route} {k}: {type(exc).__name__}: {exc}"[:400], flush=True)
            continue
        rec.add("op_ms", (t2 - t0) * 1000)
        rec.add("read_ms", (t2 - t1) * 1000)
        rec.add(f"plan_ms.{cls}", (t1 - t0) * 1000)
        rec.add(f"exec_ms.{cls}", (t2 - t1) * 1000)
        responses.append((cls, route, k, limit, rows))
    wall = time.perf_counter() - t_start
    return {
        "attempted": attempted,
        "failed": failed,
        "wall_s": wall,
        "work_units": len(responses),
        "responses": responses,
    }


# ---------------------------------------------------------------------------
# correctness: every response against DuckDB over the same tables

_BOX_COLS = (
    "box_id, block_id, tx_id, ergo_tree_hash, ergo_tree_t8_hash, value, "
    "height, creation_height, address"
)
_LIVE = "box_id NOT IN (SELECT box_id FROM inputs)"
_SQL = {
    "boxes/any/by-id": f"SELECT {_BOX_COLS} FROM boxes WHERE box_id = $k",
    "boxes/unspent/by-address": f"SELECT {_BOX_COLS} FROM boxes WHERE address = $k AND {_LIVE}",
    "boxes/spent/by-address": (
        f"SELECT {_BOX_COLS} FROM boxes WHERE address = $k "
        "AND box_id IN (SELECT box_id FROM inputs)"
    ),
    "boxes/unspent/by-token-id": (
        f"SELECT {_BOX_COLS} FROM boxes WHERE {_LIVE} "
        "AND box_id IN (SELECT box_id FROM assets WHERE token_id = $k)"
    ),
    "stats/top-addresses/by-box-count": (
        f"SELECT address, count(*) AS utxo_count FROM boxes WHERE {_LIVE} "
        "GROUP BY ergo_tree_hash, address ORDER BY utxo_count DESC, address LIMIT $n"
    ),
    "stats/top-addresses/by-value": (
        f"SELECT address, sum(value) AS total_value FROM boxes WHERE {_LIVE} "
        "GROUP BY ergo_tree_hash, address HAVING sum(value) >= 1000000000 "
        "ORDER BY total_value DESC, address LIMIT $n"
    ),
    "stats/top-tokens/by-box-count": (
        "SELECT token_id, count(DISTINCT box_id) AS n_boxes, sum(amount) AS total_amount "
        "FROM assets GROUP BY token_id ORDER BY n_boxes DESC, token_id LIMIT $n"
    ),
    "blocks/latest": "SELECT * FROM blocks ORDER BY height DESC LIMIT $n",
    "info": (
        "SELECT max(height) AS last_height, arg_max(block_id, height) AS best_block_id "
        "FROM blocks"
    ),
}
# ordered routes: the sort key must match position by position
_ORDER_KEY = {
    "stats/top-addresses/by-box-count": "utxo_count",
    "stats/top-addresses/by-value": "total_value",
    "stats/top-tokens/by-box-count": "n_boxes",
    "blocks/latest": "height",
}


def _norm(v):
    import datetime
    import decimal

    if isinstance(v, bool) or v is None:
        return v
    if isinstance(v, int):
        return int(v)
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, decimal.Decimal):
        return str(v.normalize())
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    if hasattr(v, "asDict"):
        return _norm(v.asDict())
    return v


def _rowset(cols: list[str], rows) -> list[tuple]:
    order = sorted(cols)
    idx = [cols.index(c) for c in order]
    return sorted((tuple(_norm(r[i]) for i in idx) for r in rows), key=repr)


def _ingest_errors(con, env: dict) -> list[str]:
    """The ingest's gold tables, read back from the lake: the live set
    and the spent inputs are disjoint, `address_stats` sums to the live
    set's rows, the block count equals the main-chain height, and the
    live set equals the main chain's, computed from the generated
    blocks."""
    for name in ("utxo", "address_stats", "blocks"):
        con.execute(
            f"CREATE VIEW lake_{name} AS SELECT * FROM read_parquet("
            f"'{os.path.join(env['lake'], name)}/**/*.parquet', hive_partitioning = true)"
        )

    def one(sql):
        return con.execute(sql).fetchone()

    errors = []
    (both,) = one("SELECT count(*) FROM lake_utxo JOIN inputs USING (box_id)")
    if both:
        errors.append(f"ingest: {both} utxo rows are also spent inputs")
    n_utxo, stats_sum = one(
        "SELECT (SELECT count(*) FROM lake_utxo), (SELECT sum(utxo_count) FROM lake_address_stats)"
    )
    if stats_sum != n_utxo:
        errors.append(f"ingest: address_stats sums to {stats_sum}, utxo has {n_utxo} rows")
    n_blocks, top = one("SELECT count(*), max(height) FROM lake_blocks")
    if not n_blocks == top == N_BLOCKS:
        errors.append(f"ingest: {n_blocks} blocks up to height {top}, main chain is {N_BLOCKS} high")
    got = {r[0] for r in con.execute("SELECT box_id FROM lake_utxo").fetchall()}
    if got != env["main_utxo"]:
        errors.append(
            f"ingest: utxo has {len(got)} boxes, main chain has {len(env['main_utxo'])}; "
            f"{len(got - env['main_utxo'])} extra, {len(env['main_utxo'] - got)} missing"
        )
    return errors


def check(spark, env: dict, result: dict, run_dir: str) -> list[str]:
    """Check the ingest's outputs, then export the served tables and
    compare every response with DuckDB. Returns the list of mismatches
    (empty when all agree)."""
    export = os.path.join(run_dir, "oracle")
    names = {"boxes": "boxes_main", "inputs": "inputs_main", "assets": "assets", "blocks": "blocks"}
    for view, name in names.items():
        env["tables"][name].write.mode("overwrite").parquet(os.path.join(export, view))
    con = duckdb.connect()
    try:
        for view in names:
            con.execute(
                f"CREATE VIEW {view} AS SELECT * FROM "
                f"read_parquet('{os.path.join(export, view)}/*.parquet')"
            )
        errors = _ingest_errors(con, env)
        memo: dict = {}
        for cls, route, k, limit, rows in result["responses"]:
            key = (route, tuple(k or ()), limit)
            if key not in memo:
                cur = con.execute(
                    _SQL[route],
                    {n: v for n, v in (("k", (k or [None])[0]), ("n", limit))
                     if f"${n}" in _SQL[route]},
                )
                memo[key] = ([d[0] for d in cur.description], cur.fetchall())
            cols, want = memo[key]
            got_cols = list(rows[0].__fields__) if rows else cols
            if rows and sorted(got_cols) != sorted(cols):
                errors.append(f"{route} {k}: columns {sorted(got_cols)} != {sorted(cols)}")
                continue
            if _rowset(got_cols, rows) != _rowset(cols, want):
                errors.append(f"{route} {k}: {len(rows)} rows != oracle {len(want)} rows")
                continue
            ok = _ORDER_KEY.get(route)
            if ok and [_norm(r[ok]) for r in rows] != [
                _norm(r[cols.index(ok)]) for r in want
            ]:
                errors.append(f"{route}: order differs from oracle")
        return errors
    finally:
        con.close()


# ---------------------------------------------------------------------------
# per-layer figures (traced run)


def trace_ingest(spark, rec: Recorder, env: dict) -> None:
    """The ingest again, now warm and call by call, each call's output
    persisted so the next call's time is its own: sources → normalize →
    chain → blockstats → utxo → address_stats → storage. (The pipeline
    figures come from the set-up's ingest.)"""
    from pyspark.sql import functions as F

    from ergo_uexplorer_spark import storage
    from ergo_uexplorer_spark.operators import normalize as N
    from ergo_uexplorer_spark.operators.blockstats import build_block_table
    from ergo_uexplorer_spark.operators.chain import resolve_main_chain
    from ergo_uexplorer_spark.operators.utxo import address_stats, utxo
    from ergo_uexplorer_spark.sources.blocks import read_blocks

    held = []

    def pin(df):
        df = df.persist()
        df.count()
        held.append(df)
        return df

    with rec.span("sources", "read_blocks"):
        raw = pin(read_blocks(spark, env["chain_dir"]))
    with rec.span("operators.normalize", "normalize"):
        t = {k: pin(v) for k, v in N.normalize(raw).items()
             if k in ("headers", "transactions", "outputs", "inputs", "assets", "ergo_trees", "boxes")}
    with rec.span("operators.chain", "resolve_main_chain") as sp:
        hdrs = pin(resolve_main_chain(t["headers"]))
        sp["offchain_blocks"] = hdrs.filter(~F.col("main_chain")).count()
    main_ids = hdrs.filter("main_chain").select("block_id")
    on_main = {
        k: pin(t[k].join(F.broadcast(main_ids), "block_id", "left_semi"))
        for k in ("transactions", "boxes", "inputs")
    }
    headers_main = pin(hdrs.filter("main_chain"))
    with rec.span("operators.blockstats", "build_block_table"):
        blocks = pin(build_block_table(headers_main, on_main["transactions"], on_main["boxes"]))
    with rec.span("operators.utxo", "utxo"):
        u = pin(utxo(on_main["boxes"], on_main["inputs"]))
    with rec.span("operators.utxo", "address_stats"):
        stats = pin(address_stats(u))
    out = os.path.join(os.path.dirname(env["lake"]), "lake_traced")
    with rec.span("storage", "write") as sp:
        storage.write_dimension(blocks, os.path.join(out, "blocks"))
        storage.write_fact(u, os.path.join(out, "utxo"), storage.FACT_SORT_KEYS["boxes"])
        storage.write_dimension(stats, os.path.join(out, "address_stats"))
        sp["bytes_out"] = dir_bytes(out)
    for df in held:
        df.unpersist()


def layer_metrics(rec: Recorder, env: dict) -> dict:
    def one(layer, call, key="t"):
        ss = rec.spans_of(layer, call)
        if not ss:
            return 0.0
        s = ss[-1]
        return (s["t1"] - s["t0"]) if key == "t" else s.get(key, 0)

    (mat,) = rec.spans_of("pipeline", "materialize_tables")
    (ing,) = rec.spans_of("pipeline", "ingest_blocks")
    m = {
        "sources.read_s": one("sources", "read_blocks"),
        "sources.bytes_in": env["bytes_in"],
        "operators.normalize.s": one("operators.normalize", "normalize"),
        "operators.chain.resolve_s": one("operators.chain", "resolve_main_chain"),
        "operators.chain.offchain_blocks": one("operators.chain", "resolve_main_chain", "offchain_blocks"),
        "operators.blockstats.s": one("operators.blockstats", "build_block_table"),
        "operators.utxo.utxo_s": one("operators.utxo", "utxo"),
        "operators.utxo.address_stats_s": one("operators.utxo", "address_stats"),
        "pipeline.materialize_s": mat["t1"] - mat["t0"] + ing["t1"] - ing["t0"],
        "pipeline.jobs": mat.get("jobs", 0) + ing.get("jobs", 0),
        "pipeline.overlap": mat["sink_busy_s"] / max(mat["t1"] - mat["t0"], 1e-9),
        "storage.write_s": one("storage", "write"),
        "storage.bytes_out_per_byte_in": one("storage", "write", "bytes_out") / env["bytes_in"],
        "ingest.blocks_per_s": env["n_blocks"] / (mat["t1"] - ing["t0"]),
    }
    queries = [s for s in rec.spans if s["call"].startswith("query.")]
    for cls, layer in MIX.items():
        m[f"api.plan_ms.{cls}"] = median(rec.values(f"plan_ms.{cls}"))
        m[f"{layer}.exec_ms.{cls}"] = median(rec.values(f"exec_ms.{cls}"))
        js = [q["jobs"] for q in queries if q["call"] == f"query.{cls}"]
        m[f"api.jobs_per_query.{cls}"] = median(js)
    m["api.jobs_per_query"] = sum(q["jobs"] for q in queries) / max(len(queries), 1)
    rows_read = sum(q.get("rows_read", 0) for q in queries)
    rows_ret = sum(q.get("rows_returned", 0) for q in queries)
    m["api.rows_read_per_row_returned"] = rows_read / max(rows_ret, 1)
    return m
