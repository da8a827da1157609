"""Pure-Python expected state of the document store (the benchmark's oracle).

The shadow is updated on every acked mutation and answers the same reads
the node answers: GetDoc bodies, RunQuery id sets and counts for the three
query shapes the generator emits, and a digest of a collection's current
state that is compared with ``DocStore.current_state``.
"""

from __future__ import annotations

import hashlib
import json


def merge_patch(target, patch):
    """RFC 7386 JSON merge patch (the store's update semantics)."""
    if not isinstance(patch, dict):
        return patch
    out = dict(target) if isinstance(target, dict) else {}
    for k, v in patch.items():
        if v is None:
            out.pop(k, None)
        else:
            out[k] = merge_patch(out.get(k), v)
    return out


def jql(query: dict) -> str:
    """The JQL string for one generated query spec."""
    kind, field = query["kind"], query["field"]
    if kind == "eq":
        return f'/[{field} = "{query["value"]}"]'
    if kind == "count":
        return f'/[{field} = "{query["value"]}"] | count'
    if kind == "range":
        return (f"/[{field} >= {query['lo']} and {field} < {query['hi']}]"
                f" | limit {query['limit']}")
    raise ValueError(f"unknown query kind {kind!r}")


def canonical(doc: dict) -> str:
    return json.dumps(doc, sort_keys=True, separators=(",", ":"))


class Shadow:
    """Expected live documents per (db, collection): id -> (owner, doc)."""

    def __init__(self):
        self.cols: dict[tuple[str, str], dict[int, tuple[str, dict]]] = {}

    def create_collection(self, db: str, col: str) -> None:
        self.cols.setdefault((db, col), {})

    def add(self, db: str, col: str, ids, owner: str, docs) -> None:
        live = self.cols[(db, col)]
        for i, d in zip(ids, docs):
            live[int(i)] = (owner.lower(), dict(d))

    def update(self, db: str, col: str, ids, patches) -> None:
        live = self.cols[(db, col)]
        for i, p in zip(ids, patches):
            owner, doc = live[int(i)]
            live[int(i)] = (owner, merge_patch(doc, p))

    def delete(self, db: str, col: str, ids) -> None:
        live = self.cols[(db, col)]
        for i in ids:
            live.pop(int(i), None)

    def get(self, db: str, col: str, doc_id: int):
        hit = self.cols[(db, col)].get(int(doc_id))
        return None if hit is None else {"owner": hit[0], "doc": hit[1]}

    def query(self, db: str, col: str, query: dict) -> tuple[list[int], int]:
        """(returned ids in response order, matched count) for a query spec.

        ``limit`` without an ordering returns the highest doc ids first,
        which is the store's documented default order for a limited page."""
        field = query["field"]
        live = self.cols[(db, col)]
        if query["kind"] in ("eq", "count"):
            hits = [i for i, (_, d) in live.items() if d.get(field) == query["value"]]
        else:
            hits = [
                i for i, (_, d) in live.items()
                if isinstance(d.get(field), int)
                and query["lo"] <= d[field] < query["hi"]
            ]
        if query["kind"] == "count":
            return [], len(hits)
        ordered = sorted(hits, reverse=True)
        if query["kind"] == "range":
            ordered = ordered[: query["limit"]]
        return ordered, len(hits)

    def docs_per_collection(self) -> dict[str, int]:
        return {col: len(live) for (_, col), live in self.cols.items()}

    def user_bytes(self) -> int:
        """Bytes of live document JSON, as the store keeps it."""
        return sum(
            len(json.dumps(d, sort_keys=True).encode())
            for live in self.cols.values() for _, d in live.values()
        )

    def digest(self, db: str, col: str) -> str:
        return state_digest(
            (i, owner, d) for i, (owner, d) in self.cols[(db, col)].items()
        )


def state_digest(rows) -> str:
    """sha256 over sorted (doc_id, owner, canonical doc) triples."""
    h = hashlib.sha256()
    for i, owner, doc in sorted((int(i), o.lower(), canonical(d)) for i, o, d in rows):
        h.update(f"{i}\t{owner}\t{doc}\n".encode())
    return h.hexdigest()


def store_digest(store, db: str, col: str) -> str:
    """The same digest over a live ``DocStore`` collection."""
    rows = store.current_state(db, col).select("doc_id", "owner", "doc").collect()
    return state_digest((r["doc_id"], r["owner"], json.loads(r["doc"])) for r in rows)
