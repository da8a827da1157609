"""``log_pipeline``: the data lifecycle as throughput, in three phases.

Set-up starts the origin node: its store, ``StreamingIngest`` over
``Ingest(sig_mode="eip712")``, and the catalog block (the database and its
collection) staged and applied through the block path.

1. Block ingest: ``StreamingIngest`` over ``Ingest(sig_mode="eip712")``,
   one staged file and one availableNow trigger (one micro-batch) per
   block. The compaction sweep runs after every block and compacts
   collections past 2 files (the defaults, every 16 blocks past 32 files,
   would need more blocks than a run can hold), so it compacts in the run.
2. Catch-up: ``IndexerTail.run_once`` into a fresh replica, which then
   serves the generated reads over HTTP as the ``index`` node does, half
   before phase 3 and half after it.
3. Recovery: ``RollupExecutor.rollup`` of the closed blocks, then
   ``replay_into`` a fresh store.

The origin's, the replica's and the recovered store's ``current_state``
must each hash-equal the shadow's.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import time

from perfbench import gen, probes
from perfbench.client import NodeClient, read_ok
from perfbench.common import Recorder, Tally, mean, read_layers, request_layers, span_mean
from perfbench.shadow import Shadow, store_digest

BLOCK_SECONDS = 30.0  # --seconds per staged block (its ingest, catch-up, recovery and reads)
COMPACT_EVERY = 1
COMPACT_MAX_FILES = 2


def expected_state(inputs: dict) -> Shadow:
    shadow = Shadow()
    db, col = inputs["db"], inputs["col"]
    shadow.create_collection(db, col)
    for block in inputs["effects"]:
        for e in block:
            if e["kind"] == "add":
                shadow.add(db, col, e["ids"], e["owner"], e["docs"])
            elif e["kind"] == "update":
                shadow.update(db, col, e["ids"], e["patches"])
            elif e["kind"] == "delete":
                shadow.delete(db, col, e["ids"])
    return shadow


def run(ctx) -> dict:
    from rtstore_spark.service import NodeServer, NodeService
    from rtstore_spark.sources.rollup import RollupExecutor
    from rtstore_spark.store.docstore import DocStore
    from rtstore_spark.store.ingest import Ingest
    from rtstore_spark.streaming.blocks import IndexerTail
    from rtstore_spark.streaming.ingest_stream import StreamingIngest

    spark, tracer = ctx.spark, ctx.tracer
    inputs = gen.log_pipeline_inputs(ctx.seed, max(1, math.ceil(ctx.seconds / BLOCK_SECONDS)))
    shadow = expected_state(inputs)
    db, col = inputs["db"], inputs["col"]
    tally = Tally()
    origin_root = os.path.join(ctx.work, "origin")
    staging = os.path.join(ctx.work, "staging")

    def stage_and_apply(name: str, lines: list[str]) -> None:
        """Stage one block file and apply it as one micro-batch."""
        with open(os.path.join(staging, f"{name}.jsonl"), "w") as f:
            f.write("\n".join(lines) + "\n")
        stream.start(once=True)

    t0 = time.perf_counter()
    origin = DocStore(spark, origin_root, network=gen.NETWORK)
    stream = StreamingIngest(spark, Ingest(origin, sig_mode="eip712"), staging,
                             compact_every=COMPACT_EVERY,
                             compact_max_files=COMPACT_MAX_FILES)
    stage_and_apply("catalog", inputs["catalog"])
    setup_s = ctx.session_s + time.perf_counter() - t0

    def phase(name: str, fn):
        t = time.perf_counter()
        if tracer:
            with tracer.root(f"bench.{name}", name):
                out = fn()
        else:
            out = fn()
        return out, time.perf_counter() - t

    # 1. block ingest: one file, one micro-batch per block
    block_s = [
        phase(f"block{n}", lambda n=n, lines=lines: stage_and_apply(f"block-{n:05d}", lines))[1]
        for n, lines in enumerate(inputs["blocks"])
    ]
    ingest_s = sum(block_s)
    staged = inputs["sizes"]["mutations"]
    invalid = {
        line for block, fx in zip(inputs["blocks"], inputs["effects"])
        for line, e in zip(block, fx) if e["kind"] == "invalid"
    }
    rejected_sigs = sorted(env["signature"] for env, _ in stream.rejected)
    tally.check(len(stream.rejected) == len(invalid), f"rejected {len(stream.rejected)} "
                f"envelopes, seeded {len(invalid)} invalid")
    tally.check(rejected_sigs == sorted(json.loads(x)["signature"] for x in invalid),
                "rejected envelopes are not the seeded invalid ones")
    # the log holds the catalog and every accepted document mutation;
    # catch-up and recovery replay all of it
    accepted = len(inputs["catalog"]) + staged - len(invalid)
    tally.check(store_digest(origin, db, col) == shadow.digest(db, col),
                "origin state differs from the shadow")

    # 2. catch-up into a fresh replica, which then serves reads
    replica = DocStore(spark, os.path.join(ctx.work, "replica"), network=gen.NETWORK)
    _, catchup_s = phase("catchup", IndexerTail(spark, origin, replica).run_once)
    tally.check(store_digest(replica, db, col) == shadow.digest(db, col),
                "replica state differs from the shadow")
    server = NodeServer(NodeService(replica), port=0).start()
    client = NodeClient(server.port)
    request = Recorder(tracer, spark, replica.root)

    def serve(reads: list[dict]) -> None:
        for rd in reads:
            answer = request("read", f"r{len(request.reads)}",
                             lambda: client.read(db, col, rd), op=rd["op"])
            tally.check(read_ok(shadow, db, col, rd, answer), f"replica read {rd}")

    # the replica answers half its reads before phase 3 and half after, so
    # that a run's read latencies sample more of its time
    half = len(inputs["reads"]) // 2
    try:
        for rd in inputs["warmup"]:  # untimed: the read path's first queries
            tally.check(read_ok(shadow, db, col, rd, client.read(db, col, rd)),
                        f"warm-up {rd}")
        serve(inputs["reads"][:half])

        # 3. rollup of the closed blocks, then recovery into a fresh store
        executor = RollupExecutor(spark, origin_root)
        row, rollup_s = phase("rollup", lambda: executor.rollup(
            origin.mutation_log(), network=gen.NETWORK, open_block=origin.state.block))
        recovered = DocStore(spark, os.path.join(ctx.work, "recovered"), network=gen.NETWORK)
        n_recovered, replay_s = phase("recover", lambda: executor.replay_into(recovered))
        serve(inputs["reads"][half:])
    finally:
        client.close()
        server.stop()
    tally.check(row is not None and row["rows"] == accepted,
                f"rollup rows {row and row['rows']} != accepted {accepted}")
    tally.check(n_recovered == accepted, f"recovered {n_recovered} != accepted {accepted}")
    tally.check(store_digest(recovered, db, col) == shadow.digest(db, col),
                "recovered state differs from the shadow")

    read_ms = [r["ms"] for r in request.reads]
    # each store is written by one phase: its walk is that phase's output
    walks = {name: probes.walk(store.root)
             for name, store in (("origin", origin), ("replica", replica),
                                 ("recovered", recovered))}
    store_bytes = walks["origin"][1]
    live_user = shadow.user_bytes()
    read_tail, read_pct = probes.tail(read_ms)
    phases_s = ingest_s + catchup_s + rollup_s + replay_s + sum(read_ms) / 1000.0
    e2e = {
        "setup_s": (setup_s, "s"),
        "read_p50_ms": (statistics.median(read_ms), "ms"),
        # a block-path write is acked when its block commits
        "write_mean_ms": (1000.0 * statistics.fmean(block_s), "ms"),
        "ops_per_s": ((staged + 2 * accepted + len(read_ms)) / phases_s, "1/s"),
        "store_bytes_per_user_byte": (store_bytes / live_user, "ratio"),
    }
    info = {
        "read_tail_ms": round(read_tail, 3),
        "ingest_mut_per_s": round(staged / ingest_s, 4),
        "catchup_mut_per_s": round(accepted / catchup_s, 3),
        "recover_mut_per_s": round(accepted / (rollup_s + replay_s), 3),
        "read_tail_percentile": read_pct, "read_samples": len(read_ms),
        "block_commit_samples": len(block_s), "ingest_s": round(ingest_s, 3),
        "catchup_s": round(catchup_s, 3), "rollup_s": round(rollup_s, 3),
        "replay_into_s": round(replay_s, 3), "accepted": accepted,
        "docs_per_collection": shadow.docs_per_collection(),
        "compacted": [list(c) for c in stream.compacted],
        "sweep": {"every_blocks": COMPACT_EVERY, "max_files": COMPACT_MAX_FILES},
        "parquet_files_and_bytes": walks,
    }
    layers = {}
    if tracer:
        layers = per_layer(tracer, stream, row, request.reads, accepted, catchup_s,
                           rollup_s + replay_s)
    return {"e2e": e2e, "layers": layers, "info": info, "sizes": inputs["sizes"],
            "tally": tally}


def per_layer(tracer, stream, row, reads, accepted, catchup_s, recover_s) -> dict:
    def under(rid: str, name: str) -> list[dict]:
        return [s for s in tracer.spans if s["rid"] == rid and s["name"] == name]

    applies = [s for s in tracer.spans if s["name"] == "batch_apply.apply"]
    batches = under("catchup", "replay.batch")
    controls = under("catchup", "docstore.apply_mutation")
    compacts = [s for s in tracer.spans if s["name"] == "docstore.compact"]
    phases = [s for s in tracer.spans if s["name"].startswith("bench.")
              and s["name"] != "bench.read" and s["parent"] is None]
    out = {
        "batch_apply.apply_ms": span_mean(tracer, "batch_apply.apply"),
        "batch_apply.jobs_per_block": mean(s["jobs"] for s in applies),
        "batch_apply.rejected": len(stream.rejected),
        "docstore.compact_ms": sum(1000.0 * (s["end"] - s["start"]) for s in compacts),
        "docstore.compactions": len(compacts),
        "replay.batch_ms": mean(1000.0 * (s["end"] - s["start"]) for s in batches),
        "replay.control_ops": len(controls),
        "docstore.apply_mutation_ms": mean(1000.0 * (s["end"] - s["start"]) for s in controls),
        "replay.jobs_per_batch": mean(s["jobs"] for s in batches),
        "replay.catchup_mut_per_s": accepted / catchup_s,
        "rollup.rollup_ms": span_mean(tracer, "rollup.rollup"),
        "rollup.bytes_per_mutation": row["compress_size"] / row["rows"],
        "rollup.replay_into_ms": span_mean(tracer, "rollup.replay_into"),
        "rollup.recover_mut_per_s": accepted / recover_s,
    }
    out.update(read_layers(tracer, reads))
    out.update(request_layers(tracer, "pipeline", phases))
    return out
