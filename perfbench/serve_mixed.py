"""``serve_mixed``: one closed-loop client on the node's JSON front.

The node is composed as ``python -m rtstore_spark rollup`` composes it
(DocStore + SystemStore + RollupExecutor behind NodeService and
NodeServer), without the h2c port, the block ticker's timer or
auto-compaction: the benchmark does the ticker's work itself between
requests every ``gen.BLOCK_EVERY`` writes (``close_block``), so with one
client the counters repeat exactly. Flush policy: every acked SendMutation
has done its synchronous parquet appends (document versions and the log
row); the OS page cache is never dropped, so latencies are sandbox
numbers, not device numbers.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import time

from perfbench import gen, probes
from perfbench.common import Recorder, Tally, mean, read_layers, request_layers, span_mean
from perfbench.client import NodeClient, added_ids, read_ok
from perfbench.shadow import Shadow, store_digest

ZERO_ADDR = "0x" + "00" * 20
STEP_SECONDS = 2.5  # --seconds per write step (one write and its three reads)


def compose_node(spark, root: str):
    """The rollup node's composition (rtstore_spark/__main__.py run_rollup)."""
    from rtstore_spark.service import NodeServer, NodeService
    from rtstore_spark.sources.rollup import RollupExecutor
    from rtstore_spark.store.docstore import DocStore
    from rtstore_spark.store.ingest import Ingest
    from rtstore_spark.system import SystemStore

    store = DocStore(spark, root, network=gen.NETWORK)
    node = NodeService(store, Ingest(store),
                       system=SystemStore(spark, root, admin_addr=ZERO_ADDR),
                       rollup=RollupExecutor(spark, root))
    return node, NodeServer(node, port=0).start()


def close_block(store) -> None:
    """The block ticker's tick when the open block holds mutations: close
    the block and persist its wire envelopes. The tick's rollup-policy check
    (``RollupExecutor.maybe_rollup``) is left out: it runs on the ticker's
    thread, off the request path, and under the default policy (1 MiB
    pending or 24 h) it writes nothing in a run."""
    if store.state.order > 0:
        store.state.next_block()
        store.flush_wire_archive()


def apply_ack(shadow: Shadow, inputs: dict, m: dict, ack: dict, tally: Tally) -> None:
    db, col = inputs["db"], inputs["col"]
    if not tally.check(ack.get("code") == 0, f"{m['action']} nonce {m['nonce']}: {ack.get('msg')}"):
        return
    if m["action"] == "create_db":
        got = {i["key"]: i["value"] for i in ack["items"]}.get("db_addr")
        tally.check(got == db, f"db address {got} != {db}")
    elif m["action"] == "add_collection":
        shadow.create_collection(db, col)
    elif m["action"] == "add":
        ids = added_ids(ack)
        tally.check(ids == m["expect_ids"], f"add ids {ids} != {m['expect_ids']}")
        shadow.add(db, col, ids, inputs["sender"], m["docs"])
    elif m["action"] == "update":
        shadow.update(db, col, m["ids"], m["patches"])
    else:
        shadow.delete(db, col, m["ids"])


def user_bytes(m: dict) -> int:
    docs = m.get("docs") or m.get("patches") or []
    return sum(len(json.dumps(d, sort_keys=True).encode()) for d in docs)


def run(ctx) -> dict:
    spark, tracer = ctx.spark, ctx.tracer
    inputs = gen.serve_mixed_inputs(ctx.seed, max(1, math.ceil(ctx.seconds / STEP_SECONDS)))
    db, col = inputs["db"], inputs["col"]
    root = os.path.join(ctx.work, "node")
    shadow, tally = Shadow(), Tally()

    t0 = time.perf_counter()
    node, server = compose_node(spark, root)
    client = NodeClient(server.port)
    for m in inputs["setup"]:
        apply_ack(shadow, inputs, m, client.send(m), tally)
    close_block(node.store)
    for rd in inputs["warmup"]:
        tally.check(read_ok(shadow, db, col, rd, client.read(db, col, rd)), f"warm-up {rd}")
    setup_s = ctx.session_s + time.perf_counter() - t0

    data_dir = os.path.join(root, "data", db, col)
    request = Recorder(tracer, spark, root)
    user_written = 0

    t_start = time.perf_counter()
    for n, step in enumerate(inputs["steps"]):
        m = step["write"]
        ack = request("write", f"w{n}", lambda: client.send(m))
        apply_ack(shadow, inputs, m, ack, tally)
        user_written += user_bytes(m)
        for k, rd in enumerate(step["reads"]):
            answer = request("read", f"r{n}.{k}", lambda: client.read(db, col, rd),
                             op=rd["op"])
            tally.check(read_ok(shadow, db, col, rd, answer), f"step {n} read {rd}")
        if step["close_block"]:
            close_block(node.store)
    window_s = time.perf_counter() - t_start
    client.close()
    server.stop()
    close_block(node.store)

    store_files, store_bytes = probes.walk(root)
    live_user = shadow.user_bytes()
    reads, writes = request.reads, request.writes
    read_ms = [r["ms"] for r in reads]
    write_ms = [w["ms"] for w in writes]
    read_tail, read_pct = probes.tail(read_ms)
    write_tail, write_pct = probes.tail(write_ms)

    # restart: a fresh DocStore reloads StateStore from disk
    restart = restart_check(spark, root, inputs, shadow, tally)

    e2e = {
        "setup_s": (setup_s, "s"),
        "read_p50_ms": (statistics.median(read_ms), "ms"),
        # the mean, not the p50: adds, deletes and updates take distinct
        # times, and with half the writes adds the p50 falls on the edge
        # between the add and delete latencies, where it jumps by the gap
        "write_mean_ms": (statistics.fmean(write_ms), "ms"),
        "ops_per_s": ((len(reads) + len(writes)) / window_s, "1/s"),
        "store_bytes_per_user_byte": (store_bytes / live_user, "ratio"),
    }
    info = {
        "ingest_mut_per_s": round(1000.0 * len(writes) / sum(write_ms), 4),
        "read_tail_ms": round(read_tail, 3), "read_tail_percentile": read_pct,
        "read_samples": len(read_ms),
        "write_p50_ms": round(statistics.median(write_ms), 3),
        "write_tail_ms": round(write_tail, 3), "write_tail_percentile": write_pct,
        "write_samples": len(write_ms), "window_s": round(window_s, 3),
        "store_files": store_files, "store_bytes": store_bytes,
        "live_user_bytes": live_user, "restart": restart,
        "docs_per_collection": shadow.docs_per_collection(),
        "flush_policy": "synchronous parquet append per mutation; OS page "
                        "cache never dropped (sandbox numbers)",
    }
    layers = {}
    if tracer:
        layers = per_layer(tracer, reads, writes, user_written, data_dir)
    return {"e2e": e2e, "layers": layers, "info": info, "sizes": inputs["sizes"],
            "tally": tally}


def restart_check(spark, root: str, inputs: dict, shadow: Shadow, tally: Tally) -> dict:
    """Reopen the store root (a fresh DocStore reloads StateStore from
    disk): every acked write must be readable and the next nonce accepted."""
    db, col, sender = inputs["db"], inputs["col"], inputs["sender"]
    m = inputs["restart"]
    t = time.perf_counter()
    node, server = compose_node(spark, root)
    store = node.store
    client = NodeClient(server.port)
    try:
        tally.check(store_digest(store, db, col) == shadow.digest(db, col),
                    "restart: reopened state differs from the acked writes")
        tally.check(store.state.nonce_of(sender) == m["nonce"] - 1,
                    "restart: reloaded nonce is not the last acked one")
        apply_ack(shadow, inputs, m, client.send(m), tally)
        rd = {"op": "GetDoc", "id": m["expect_ids"][0]}
        tally.check(read_ok(shadow, db, col, rd, client.read(db, col, rd)),
                    "restart: next-nonce write not readable")
    finally:
        client.close()
        server.stop()
    return {"seconds": round(time.perf_counter() - t, 3), "next_nonce": m["nonce"]}


def per_layer(tracer, reads: list[dict], writes: list[dict], user_written: int,
              data_dir: str) -> dict:
    out = read_layers(tracer, reads)
    out.update({
        "wire.unwrap_verify_ms": span_mean(tracer, "wire.unwrap_verify"),
        "ingest.send_mutation_ms": span_mean(tracer, "ingest.send_mutation"),
        "docstore.add_docs_ms": span_mean(tracer, "docstore.add_docs"),
        "docstore.update_docs_ms": span_mean(tracer, "docstore.update_docs"),
        "docstore.delete_docs_ms": span_mean(tracer, "docstore.delete_docs"),
        "spark.jobs_per_write": mean(w["jobs"] for w in writes),
        "spark.tasks_per_write": mean(w["tasks"] for w in writes),
        "docstore.files_per_write": mean(w["files"] for w in writes),
        "docstore.live_files": probes.walk(data_dir)[0],
        "docstore.bytes_written_per_user_byte":
            sum(w["bytes"] for w in writes) / max(1, user_written),
    })
    out.update(request_layers(tracer, "write", [w["span"] for w in writes]))
    return out
