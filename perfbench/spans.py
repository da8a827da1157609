"""In-memory span tracing from the benchmark's own files.

``Tracer.install`` wraps the node's public functions at their layer
boundaries (module attributes and class methods, patched in this process
only) and records one span per call: name, start, end, parent, request id.
The benchmark opens a root span per client request or pipeline phase
(``Tracer.root``); server-side spans whose thread has no open span attach
to the current root, which is exact for the one-client workloads.

A span's layer is its name up to the first dot; a layer's self time is its
spans' durations minus the parts covered by their child spans. The root
span's self time (layer ``bench``) is request time no layer span covers.
"""

from __future__ import annotations

import importlib
import itertools
import json
import threading
import time
from contextlib import contextmanager

# (module, attribute path, span name): the layer boundaries the benchmark
# times. Functions that callers import at call time are patched on their
# defining module; ``replay_log_batch`` is also bound by name in the
# streaming module, so both bindings are wrapped.
BOUNDARIES = [
    ("rtstore_spark.service", "_Handler.do_POST", "service.http"),
    ("rtstore_spark.service", "NodeService.dispatch", "service.dispatch"),
    ("rtstore_spark.store.ingest", "Ingest.send_wire_mutation", "ingest.send_mutation"),
    ("rtstore_spark.wire.envelope", "unwrap_and_verify", "wire.unwrap_verify"),
    ("rtstore_spark.wire.envelope", "recover_mutation_signer", "crypto.recover"),
    ("rtstore_spark.jql.parser", "parse_jql", "jql.parse"),
    ("rtstore_spark.jql.compiler", "compile_predicate", "jql.compile"),
    ("rtstore_spark.jql.compiler", "apply_stages", "jql.compile"),
    ("rtstore_spark.store.batch_apply", "BatchApplier.apply", "batch_apply.apply"),
    ("rtstore_spark.streaming.blocks", "replay_log_batch", "replay.batch"),
    ("rtstore_spark.store.replay", "replay_log_batch", "replay.batch"),
    ("rtstore_spark.sources.rollup", "RollupExecutor.rollup", "rollup.rollup"),
    ("rtstore_spark.sources.rollup", "RollupExecutor.replay_into", "rollup.replay_into"),
] + [
    ("rtstore_spark.store.docstore", f"DocStore.{m}", f"docstore.{m}")
    for m in ("get_doc", "query_docs", "add_docs", "update_docs", "delete_docs",
              "create_database", "create_collection", "apply_mutation",
              "compact", "maybe_compact", "archive_wire_envelope",
              "flush_wire_archive")
]

# spans that also record the Spark job ids they cover
JOB_COUNTED = {"batch_apply.apply", "replay.batch", "rollup.rollup",
               "rollup.replay_into", "docstore.compact", "docstore.apply_mutation"}


class Tracer:
    def __init__(self, next_job=None):
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._root: tuple[int, str] | None = None
        self._next_job = next_job
        self._patched: list[tuple[object, str, object]] = []

    # -- recording -----------------------------------------------------

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        root = self._root
        parent = stack[-1] if stack else (root[0] if root else None)
        sid = next(self._ids)
        rec = {"id": sid, "name": name, "parent": parent,
               "rid": root[1] if root else None}
        if self._next_job is not None and name in JOB_COUNTED:
            rec["job0"] = self._next_job()
        stack.append(sid)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if "job0" in rec:
                rec["jobs"] = self._next_job() - rec["job0"]
            with self._lock:
                self.spans.append(rec)

    @contextmanager
    def root(self, name: str, rid: str):
        """A client request or pipeline phase; layer ``bench``."""
        with self.span(name) as rec:
            rec["rid"] = rid
            self._root = (rec["id"], rid)
            try:
                yield rec
            finally:
                self._root = None

    # -- patching ------------------------------------------------------

    def _wrapper(self, fn, name: str):
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    def install(self) -> None:
        for module, path, name in BOUNDARIES:
            owner = importlib.import_module(module)
            *outer, attr = path.split(".")
            for part in outer:
                owner = getattr(owner, part)
            fn = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
            self._patched.append((owner, attr, fn))
            setattr(owner, attr, self._wrapper(fn, name))

    def uninstall(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched.clear()

    # -- analysis ------------------------------------------------------

    def self_times(self) -> dict[int, float]:
        """Span id -> self time in seconds (children clipped to the span)."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out = {}
        for s in self.spans:
            lo, hi = s["start"], s["end"]
            covered, cur_lo, cur_hi = 0.0, None, None
            for a, b in sorted(
                (max(c["start"], lo), min(c["end"], hi))
                for c in children.get(s["id"], [])
            ):
                if b <= a:
                    continue
                if cur_hi is None or a > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = a, b
                else:
                    cur_hi = max(cur_hi, b)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out[s["id"]] = (hi - lo) - covered
        return out

    def layer_self_ms(self, roots: list[dict]) -> dict[str, float]:
        """Mean self time per root, by layer, in ms, over the span trees
        under ``roots``."""
        if not roots:
            return {}
        by_parent: dict[int, list[dict]] = {}
        for s in self.spans:
            by_parent.setdefault(s["parent"], []).append(s)
        selfs = self.self_times()
        totals: dict[str, float] = {}
        todo = list(roots)
        while todo:
            s = todo.pop()
            layer = s["name"].split(".", 1)[0]
            totals[layer] = totals.get(layer, 0.0) + selfs[s["id"]]
            todo.extend(by_parent.get(s["id"], []))
        return {k: 1000.0 * v / len(roots) for k, v in totals.items()}

    def durations_ms(self, name: str) -> list[float]:
        """Durations of ``name`` spans inside measured roots (set-up and
        checks outside any root are left out)."""
        return [1000.0 * (s["end"] - s["start"]) for s in self.spans
                if s["name"] == name and s["rid"] is not None]

    def dump(self, path: str) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                rec = dict(s, start=s["start"] - t0, end=s["end"] - t0)
                f.write(json.dumps(rec, sort_keys=True) + "\n")


def span_cost_us(calls: int = 20000) -> float:
    """Added cost of one recorded span, in microseconds (wrapper around a
    no-op, minus the bare call)."""
    t = Tracer()

    def noop():
        return None

    wrapped = t._wrapper(noop, "bench.calibrate")
    t0 = time.perf_counter()
    for _ in range(calls):
        noop()
    bare = time.perf_counter() - t0
    t0 = time.perf_counter()
    for _ in range(calls):
        wrapped()
    return max(0.0, (time.perf_counter() - t0 - bare) / calls * 1e6)
