"""Metric names and the helpers both workloads share."""

from __future__ import annotations

import time

from perfbench import probes

# the layers that record spans (spans.BOUNDARIES) under each kind of root
# span: a client read, a client write, a log_pipeline phase. A kind's
# "unattributed" time is the self time of the benchmark's root spans:
# request time no layer span covers.
ROOT_LAYERS = {
    "read": ("service", "docstore", "jql"),
    "write": ("service", "wire", "crypto", "ingest", "docstore"),
    "pipeline": ("docstore", "batch_apply", "replay", "rollup"),
}

E2E = {
    "setup_s": "s",
    "read_p50_ms": "ms",
    "write_mean_ms": "ms",
    "ops_per_s": "1/s",
    "store_bytes_per_user_byte": "ratio",
}

PER_LAYER = {
    # serve path, moves read_p50_ms
    "service.front_ms": "ms",
    "service.dispatch_ms": "ms",
    "docstore.get_doc_ms": "ms",
    "docstore.query_docs_ms": "ms",
    "jql.parse_ms": "ms",
    "jql.compile_ms": "ms",
    "spark.jobs_per_read": "count",
    "spark.tasks_per_read": "count",
    # serve path, moves write_mean_ms
    "wire.unwrap_verify_ms": "ms",
    "ingest.send_mutation_ms": "ms",
    "docstore.add_docs_ms": "ms",
    "docstore.update_docs_ms": "ms",
    "docstore.delete_docs_ms": "ms",
    "spark.jobs_per_write": "count",
    "spark.tasks_per_write": "count",
    "docstore.files_per_write": "count",
    # moves the read metrics and store_bytes_per_user_byte
    "docstore.live_files": "count",
    "docstore.bytes_written_per_user_byte": "ratio",
    # block path, moves write_mean_ms (a block commit) and ingest_mut_per_s
    "batch_apply.apply_ms": "ms",
    "batch_apply.jobs_per_block": "count",
    "batch_apply.rejected": "count",
    "docstore.compact_ms": "ms",
    "docstore.compactions": "count",
    # index-node catch-up
    "replay.batch_ms": "ms",
    "replay.control_ops": "count",
    "docstore.apply_mutation_ms": "ms",
    "replay.jobs_per_batch": "count",
    "replay.catchup_mut_per_s": "1/s",
    # recovery from rollups
    "rollup.rollup_ms": "ms",
    "rollup.bytes_per_mutation": "bytes",
    "rollup.replay_into_ms": "ms",
    "rollup.recover_mut_per_s": "1/s",
    # tracing cost, and each kind's client time split into layer self times
    "bench.span_cost_us": "us",
    "bench.spans_per_root": "count",
    **{f"bench.{kind}_client_ms": "ms" for kind in ROOT_LAYERS},
    **{f"self.{kind}.{layer}_ms": "ms"
       for kind, layers in ROOT_LAYERS.items() for layer in layers + ("unattributed",)},
}


class Tally:
    """Operations attempted and failed (errors plus wrong answers)."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.failures) < 20:
                self.failures.append(what)
        return ok


def mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def span_mean(tracer, name: str) -> float:
    return mean(tracer.durations_ms(name))


def request_layers(tracer, kind: str, roots: list[dict]) -> dict:
    """Mean client time per root and its split into layer self times:
    ``bench.<kind>_client_ms`` equals the sum of the ``self.<kind>.*``."""
    selfs = tracer.layer_self_ms(roots)
    out = {f"self.{kind}.{layer}_ms": selfs.get(layer, 0.0) for layer in ROOT_LAYERS[kind]}
    out[f"self.{kind}.unattributed_ms"] = selfs.get("bench", 0.0)
    out[f"bench.{kind}_client_ms"] = mean(
        1000.0 * (r["end"] - r["start"]) for r in roots)
    return out


class Recorder:
    """Times client requests. In a traced run it also opens each request's
    root span and takes the outside counters: Spark jobs and tasks per
    request, and for writes the parquet files and bytes added under
    ``store_root``."""

    def __init__(self, tracer, spark, store_root: str):
        self.tracer = tracer
        self.counter = probes.SparkCounter(spark) if tracer else None
        self.store_root = store_root
        self.reads: list[dict] = []
        self.writes: list[dict] = []

    def __call__(self, kind: str, rid: str, fn, **tags):
        rec = {"kind": kind, **tags}
        counter, walk = self.counter, kind == "write" and self.counter
        if counter:
            job0 = counter.next_job()
        if walk:
            files0, bytes0 = probes.walk(self.store_root)
        t = time.perf_counter()
        if self.tracer:
            with self.tracer.root(f"bench.{kind}", rid) as rec["span"]:
                out = fn()
        else:
            out = fn()
        rec["ms"] = 1000.0 * (time.perf_counter() - t)
        if counter:
            job1 = counter.next_job()
            rec["jobs"], rec["tasks"] = job1 - job0, counter.tasks(job0, job1)
        if walk:
            files1, bytes1 = probes.walk(self.store_root)
            rec["files"], rec["bytes"] = files1 - files0, bytes1 - bytes0
        (self.writes if kind == "write" else self.reads).append(rec)
        return out


def read_layers(tracer, reads: list[dict]) -> dict:
    """Read-path metrics of a traced run; they should move read_p50_ms."""
    dispatch = {s["rid"]: 1000.0 * (s["end"] - s["start"])
                for s in tracer.spans if s["name"] == "service.dispatch"}
    n_queries = max(1, sum(r["op"] == "RunQuery" for r in reads))
    out = {
        "service.front_ms": mean(r["ms"] - dispatch[r["span"]["rid"]] for r in reads),
        "service.dispatch_ms": mean(dispatch[r["span"]["rid"]] for r in reads),
        "docstore.get_doc_ms": span_mean(tracer, "docstore.get_doc"),
        "docstore.query_docs_ms": span_mean(tracer, "docstore.query_docs"),
        "jql.parse_ms": sum(tracer.durations_ms("jql.parse")) / n_queries,
        "jql.compile_ms": sum(tracer.durations_ms("jql.compile")) / n_queries,
        "spark.jobs_per_read": mean(r["jobs"] for r in reads),
        "spark.tasks_per_read": mean(r["tasks"] for r in reads),
    }
    out.update(request_layers(tracer, "read", [r["span"] for r in reads]))
    return out
