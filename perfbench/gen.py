"""Seeded input generators for the node benchmark.

Everything here is pure Python and deterministic in ``seed``: the same seed
gives byte-identical inputs (``to_bytes``). Signing happens here, before any
timing starts; the node only ever receives the generated envelopes.

- ``serve_mixed_inputs``: one client's sequence of reference-wire-format
  SendMutations (EIP-712 TypedData around protobuf, built with
  ``wire.schemas.encode_mutation`` + ``wire.envelope.wrap_and_sign``), each
  followed by about three reads of the same collection.
- ``log_pipeline_inputs``: the catalog block, then staged blocks of JSON
  envelopes signed EIP-712 style by many senders, with a seeded handful of
  bad signatures and replayed nonces, plus the reads the caught-up index
  node must answer.
"""

from __future__ import annotations

import hashlib
import itertools
import json
import random

from rtstore_spark.crypto.eip712 import mutation_signing_hash
from rtstore_spark.crypto.secp256k1 import N, priv_to_address, sign
from rtstore_spark.store.docstore import derive_db_addr
from rtstore_spark.wire.bsonlite import bson_encode
from rtstore_spark.wire.envelope import wrap_and_sign
from rtstore_spark.wire.schemas import encode_mutation

NETWORK = 1
CATEGORIES = 8  # values of the indexed "cat" field
QUERY_KINDS = ("eq", "range", "count")
BLOCK_EVERY = 4  # serve_mixed closes a block every 4 writes
DOCS_PER_ADD = 2
COLLECTION = "docs"  # each workload's one collection
PRELOAD_DOCS = 40  # serve_mixed documents added during set-up
SENDERS = 64  # log_pipeline senders: admission runs one group per sender
PER_BLOCK = 24  # log_pipeline document mutations per staged block
BAD_SIGS, REPLAYS = 2, 2  # seeded invalid envelopes per log_pipeline run
N_READS = 24  # reads the caught-up log_pipeline replica answers


def derive_priv(seed: int, tag: str, i: int = 0) -> int:
    digest = hashlib.sha256(f"{tag}:{seed}:{i}".encode()).digest()
    return int.from_bytes(digest, "big") % (N - 1) + 1


def to_bytes(inputs: dict) -> bytes:
    return json.dumps(inputs, sort_keys=True, separators=(",", ":")).encode()


def _doc(rng: random.Random, serial: int) -> dict:
    # fixed-width values: every seed stores the same bytes per document
    return {
        "cat": f"c{rng.randrange(CATEGORIES)}",
        "n": rng.randrange(100, 1000),
        "name": f"user-{serial:06d}",
        "bio": "x" * 48,
    }


def _patch(rng: random.Random) -> dict:
    return {"cat": f"c{rng.randrange(CATEGORIES)}", "n": rng.randrange(100, 1000),
            "seen": rng.randrange(100000, 1000000)}


def _query(rng: random.Random, kind: str) -> dict:
    if kind == "range":
        lo = rng.randrange(100, 900)
        return {"kind": "range", "field": "n", "lo": lo,
                "hi": lo + rng.randrange(50, 200), "limit": rng.randrange(3, 10)}
    return {"kind": kind, "field": "cat", "value": f"c{rng.randrange(CATEGORIES)}"}


def _shuffled(rng: random.Random, counts: dict[str, int]) -> list[str]:
    """A seeded order of a fixed multiset: every seed gets the same mix."""
    out = [k for k, n in counts.items() for _ in range(n)]
    rng.shuffle(out)
    return out


def _zipf_pick(rng: random.Random, ids: list[int], seed: int, s: float = 1.2) -> int:
    """Zipf-skewed choice: ids ranked by a seed-stable popularity order."""
    ranked = sorted(ids, key=lambda i: hashlib.sha256(f"{seed}:{i}".encode()).digest())
    weights = [1.0 / (r + 1) ** s for r in range(len(ranked))]
    return rng.choices(ranked, weights=weights)[0]


def _warmup_reads(rng: random.Random, ids: list[int], seed: int) -> list[dict]:
    """One GetDoc and one RunQuery of each kind."""
    return [{"op": "GetDoc", "id": _zipf_pick(rng, ids, seed)}] + [
        {"op": "RunQuery", "query": _query(rng, kind)} for kind in QUERY_KINDS]


def _wire(action: str, db: str | None, kind: str, body: dict, nonce: int, priv: int) -> dict:
    payload, sig = wrap_and_sign(
        encode_mutation(action, [{"db_address": db, "kind": kind, "body": body}]),
        nonce, priv,
    )
    return {"payload": "0x" + payload.hex(), "signature": sig, "nonce": nonce}


# ---------------------------------------------------------------- serve_mixed


def serve_mixed_inputs(seed: int, n_writes: int) -> dict:
    """One closed-loop client: set-up mutations (the database, the
    collection, ``PRELOAD_DOCS`` documents, then one update and one delete)
    and four warm-up reads, then ``n_writes`` steps of one SendMutation
    (50% add, 35% update, 15% delete, as exact counts in a seeded order)
    and three reads: GetDoc of the touched id, one RunQuery (equality,
    range + limit and count in equal shares) and a zipf-skewed GetDoc."""
    rng = random.Random(f"serve_mixed:{seed}")
    priv = derive_priv(seed, "serve_mixed")
    sender = priv_to_address(priv)
    db = derive_db_addr(sender, 1, NETWORK)
    col = COLLECTION
    next_nonce = itertools.count(1).__next__
    live: list[int] = []
    next_id = 1
    serial = 0

    def add_mutation(k: int) -> dict:
        nonlocal next_id, serial
        docs = []
        for _ in range(k):
            serial += 1
            docs.append(_doc(rng, serial))
        m = _wire("AddDocument", db, "document_mutation", {
            "collection_name": col,
            "documents": [bson_encode(d) for d in docs],
        }, next_nonce(), priv)
        m.update(action="add", docs=docs, expect_ids=list(range(next_id, next_id + k)),
                 touched=next_id)
        live.extend(m["expect_ids"])
        next_id += k
        return m

    def write(action: str) -> dict:
        """An add, or an update or delete of a live document; ``touched`` is
        the first id added or the id targeted."""
        if action == "add":
            return add_mutation(DOCS_PER_ADD)
        target = rng.choice(live)
        if action == "update":
            patch = _patch(rng)
            m = _wire("UpdateDocument", db, "document_mutation", {
                "collection_name": col,
                "documents": [bson_encode(patch)], "ids": [target],
            }, next_nonce(), priv)
            m.update(patches=[patch])
        else:
            m = _wire("DeleteDocument", db, "document_mutation", {
                "collection_name": col, "ids": [target],
            }, next_nonce(), priv)
            live.remove(target)
        m.update(action=action, ids=[target], touched=target)
        return m

    setup = [
        {**_wire("CreateDocumentDB", None, "doc_database_mutation",
                 {"db_desc": "serve_mixed"}, next_nonce(), priv), "action": "create_db"},
        {**_wire("AddCollection", db, "collection_mutation", {
            "collection_name": col,
            "index_fields": [{"path": "/cat", "index_type": 1}],
        }, next_nonce(), priv), "action": "add_collection"},
        add_mutation(PRELOAD_DOCS),
        # the first update, the first delete and the first query of each
        # shape are slower (JIT, codegen); a long-running node has paid that
        write("update"),
        write("delete"),
    ]
    warmup = _warmup_reads(rng, live, seed)

    n_add, n_update = round(0.5 * n_writes), round(0.35 * n_writes)
    actions = _shuffled(rng, {"add": n_add, "update": n_update,
                              "delete": n_writes - n_add - n_update})
    kinds = _shuffled(rng, {k: -(-n_writes // len(QUERY_KINDS)) for k in QUERY_KINDS})
    steps = []
    for n, action in enumerate(actions):
        m = write(action)
        steps.append({"write": m, "close_block": (n + 1) % BLOCK_EVERY == 0, "reads": [
            {"op": "GetDoc", "id": m["touched"]},
            {"op": "RunQuery", "query": _query(rng, kinds[n])},
            {"op": "GetDoc", "id": _zipf_pick(rng, live, seed)},
        ]})

    restart = add_mutation(1)  # sent after the restart with the next nonce
    return {
        "workload": "serve_mixed", "seed": seed, "sender": sender, "db": db,
        "col": col, "setup": setup, "warmup": warmup,
        "steps": steps, "restart": restart,
        "sizes": {"preload_docs": PRELOAD_DOCS, "setup_writes": len(setup),
                  "writes": n_writes,
                  "reads": 3 * n_writes, "senders": 1,
                  "block_every_writes": BLOCK_EVERY},
    }


# --------------------------------------------------------------- log_pipeline


def _envelope(payload: dict, sender: str, nonce: int, priv: int) -> str:
    text = json.dumps(payload, sort_keys=True)
    sig = "0x" + sign(mutation_signing_hash(text, nonce), priv).hex()
    return json.dumps({"payload": text, "signature": sig, "sender": sender,
                       "nonce": nonce}, sort_keys=True)


def log_pipeline_inputs(seed: int, n_blocks: int) -> dict:
    """The node's catalog (one database and ``COLLECTION``), staged as a
    block of its own, then ``n_blocks`` staged blocks of ``PER_BLOCK``
    document mutations from ``SENDERS`` senders (50% add, 35% update, 15%
    delete). The seeded invalid envelopes (bad signatures, replayed nonces)
    ride on top.

    The block applier gives the collection one contiguous id range per
    block, in arrival order. Updates and deletes target live documents of
    earlier blocks or adds that arrive earlier in the same block, each
    document at most once per block, always sent by its owner; the block
    applier validates them against the block's start state plus its adds,
    so the set-wise apply equals a sequential one. Invalid envelopes are
    adds, so rejecting them consumes no doc ids.
    """
    rng = random.Random(f"log_pipeline:{seed}")
    privs = [derive_priv(seed, "log_pipeline", i) for i in range(SENDERS)]
    senders = [priv_to_address(p) for p in privs]
    nonces = [0] * SENDERS
    db = derive_db_addr(senders[0], 1, NETWORK)
    col = COLLECTION

    def signed(i: int, payload: dict) -> str:
        nonces[i] += 1
        return _envelope(payload, senders[i], nonces[i], privs[i])

    catalog = [
        signed(0, {"action": "create_database", "body": {"desc": "log_pipeline"}}),
        signed(0, {"action": "add_collection", "db_addr": db, "col_name": col,
                   "body": {"indexes": [{"path": "/cat", "type": "string"}]}}),
    ]
    invalid_blocks = [rng.randrange(n_blocks) for _ in range(BAD_SIGS + REPLAYS)]
    live: dict[int, int] = {}  # doc id -> owner index
    next_id = 1
    serial = 0
    blocks, effects = [], []
    for b in range(n_blocks):
        mine = [n for n, ib in enumerate(invalid_blocks) if ib == b]
        n_upd, n_del = round(0.35 * PER_BLOCK), round(0.15 * PER_BLOCK)
        plan = _shuffled(rng, {
            "update": n_upd, "delete": n_del, "add": PER_BLOCK - n_upd - n_del,
            "bad_sig": sum(n < BAD_SIGS for n in mine),
            "replay": sum(n >= BAD_SIGS for n in mine),
        })
        # an update or delete with nothing to target yet moves to the end
        avail = len(live)
        ordered, deferred = [], []
        for kind in plan:
            if kind in ("update", "delete"):
                if avail == 0:
                    deferred.append(kind)
                    continue
                avail -= 1
            elif kind == "add":
                avail += 1
            ordered.append(kind)
        touched: set[int] = set()
        lines, fx = [], []
        for kind in ordered + deferred:
            e = {"kind": kind}
            if kind == "add":
                owner = rng.randrange(SENDERS)
                docs = []
                for _ in range(DOCS_PER_ADD):
                    serial += 1
                    docs.append(_doc(rng, serial))
                e.update(owner=senders[owner], docs=docs,
                         ids=list(range(next_id, next_id + len(docs))))
                next_id += len(docs)
                live.update((d, owner) for d in e["ids"])
                lines.append(signed(owner, {
                    "action": "add_document", "db_addr": db, "col_name": col,
                    "body": {"docs": [json.dumps(d, sort_keys=True) for d in docs]},
                }))
            elif kind in ("update", "delete"):
                doc_id = rng.choice([d for d in live if d not in touched])
                owner = live[doc_id]
                touched.add(doc_id)
                body = {"ids": [doc_id]}
                e["ids"] = [doc_id]
                if kind == "update":
                    e["patches"] = [_patch(rng)]
                    body["patches"] = [json.dumps(e["patches"][0], sort_keys=True)]
                else:
                    del live[doc_id]
                lines.append(signed(owner, {"action": f"{kind}_document", "db_addr": db,
                                            "col_name": col, "body": body}))
            else:  # a seeded invalid envelope
                used = [i for i in range(SENDERS) if nonces[i] > 0]
                i = rng.choice(used if kind == "replay" else range(SENDERS))
                payload = {"action": "add_document", "db_addr": db, "col_name": col,
                           "body": {"docs": [json.dumps(_doc(rng, -1), sort_keys=True)]}}
                if kind == "replay":  # valid signature, already-consumed nonce
                    lines.append(_envelope(payload, senders[i], nonces[i], privs[i]))
                else:  # signed by another key, nonce not consumed
                    lines.append(_envelope(payload, senders[i], nonces[i] + 1,
                                           privs[(i + 1) % SENDERS]))
                e.update(kind="invalid", why=kind)
            fx.append(e)
        blocks.append(lines)
        effects.append(fx)

    ids = sorted(live)
    warmup = _warmup_reads(rng, ids, seed)
    reads = []
    n_get = N_READS // 2
    per_kind = (N_READS - n_get) // len(QUERY_KINDS)
    for kind in _shuffled(rng, {"get": n_get, **{k: per_kind for k in QUERY_KINDS}}):
        if kind == "get":
            reads.append({"op": "GetDoc", "id": _zipf_pick(rng, ids, seed)})
        else:
            reads.append({"op": "RunQuery", "query": _query(rng, kind)})

    n_doc_ops = sum(e["kind"] != "invalid" for fx in effects for e in fx)
    return {
        "workload": "log_pipeline", "seed": seed, "db": db, "col": col,
        "senders": senders, "catalog": catalog, "blocks": blocks, "effects": effects,
        "warmup": warmup, "reads": reads,
        "sizes": {
            "senders": SENDERS, "blocks": len(blocks),
            "mutations": sum(len(b) for b in blocks),
            "catalog_ops": len(catalog), "doc_ops": n_doc_ops,
            "catalog_to_doc_ratio": round(len(catalog) / max(1, n_doc_ops), 4),
            "invalid": len(invalid_blocks), "collections": 1,
            "reads": len(reads),
        },
    }
