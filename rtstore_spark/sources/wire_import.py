"""Import reference-format rollup artifacts — wire decode + set-wise replay.

The reference persists every mutation as (payload, signature, block,
order) where ``payload`` is an EIP-712 TypedData JSON envelope around
protobuf Mutation bytes with BSON documents inside (ar_toolbox.rs /
mutation_store.rs write these exact rows into the gz-parquet rollup).
This module makes such FOREIGN artifacts replayable into a DocStore:

1. ``decode_wire_log`` — a distributed decode: signature recovery
   (pure-Python secp256k1), envelope parse, protobuf decode under
   either historical field numbering, BSON → JSON. Runs as
   ``mapInPandas`` because this is per-row binary parsing + elliptic
   curve math no Column expression can express; the pure-Python
   ``rtstore_spark.wire``/``crypto`` stack ships with the package, so
   executors need no native deps. One Arrow batch in, one out — the
   payload bytes never hit the driver.
2. ``import_wire_rollup`` — replays the decoded log:
   - control ops (creates / collections / indexes) are rare; they apply
     driver-side in (block, order) order, like the reference indexer's
     control path;
   - databases created BEFORE the imported window (or whose created
     address is not reproducible — the artifact era used a different
     DbId derivation) are AUTO-CREATED at their foreign address on
     first reference, owner = the referencing mutation's verified
     signer. Pending creates bind FIFO to first-referenced unknown
     addresses — sound when the origin log references creations in
     order, which a single-sequencer origin guarantees;
   - document ops replay SET-WISE through store/replay.py (O(touched
     collections) Spark jobs, not O(mutations)); missing AddDocument
     ids (the origin assigned them at sequencing time, after the
     envelope was signed) are assigned per-database in (block, order)
     order with one window pass.

Scale: the decode is embarrassingly parallel over rollup rows; the only
driver-side loops are over CONTROL ops and distinct databases — both
O(catalog), never O(documents).
"""

from __future__ import annotations

import json
from typing import Iterator

from pyspark.sql import DataFrame, Window, functions as F, types as T

from rtstore_spark.errors import InvalidMutation
from rtstore_spark.wire.protobuf import WireDecodeError

_DOC_WIRE_ACTIONS = ("AddDocument", "UpdateDocument", "DeleteDocument")

WIRE_DECODE_SCHEMA = T.StructType([
    T.StructField("block", T.LongType(), False),
    T.StructField("order", T.IntegerType(), False),
    T.StructField("body_idx", T.IntegerType(), False),
    T.StructField("mid", T.StringType(), True),
    T.StructField("sender", T.StringType(), True),
    T.StructField("nonce", T.LongType(), True),
    T.StructField("action", T.StringType(), True),  # wire MutationAction name
    T.StructField("db_addr", T.StringType(), True),
    T.StructField("col_name", T.StringType(), True),
    T.StructField("docs", T.ArrayType(T.StringType()), True),
    T.StructField("wire_ids", T.ArrayType(T.LongType()), True),
    T.StructField("patches", T.ArrayType(T.StringType()), True),
    T.StructField("indexes", T.StringType(), True),
    T.StructField("desc", T.StringType(), True),
    T.StructField("meta", T.StringType(), True),
    T.StructField("layout", T.StringType(), True),
    T.StructField("error", T.StringType(), True),
])

_OUT_COLS = [f.name for f in WIRE_DECODE_SCHEMA.fields]


def _ship_wire_by_value() -> None:
    """Register the wire + crypto modules for cloudpickle BY-VALUE shipping.

    Same trap and same cure as store/batch_apply._ship_crypto_by_value:
    Python workers cannot import ``rtstore_spark`` unless the repo is on
    their PYTHONPATH, so the pure-Python codec stack is embedded in the
    pickled closure instead. Idempotent."""
    from pyspark import cloudpickle

    import rtstore_spark.crypto.eip712 as _e
    import rtstore_spark.crypto.keccak as _k
    import rtstore_spark.crypto.secp256k1 as _s
    import rtstore_spark.wire.bsonlite as _b
    import rtstore_spark.wire.envelope as _env
    import rtstore_spark.wire.protobuf as _p
    import rtstore_spark.wire.schemas as _sch
    import rtstore_spark.wire.translate as _t

    for mod in (_k, _s, _e, _p, _b, _sch, _env, _t):
        cloudpickle.register_pickle_by_value(mod)


def decode_wire_log(
    df: DataFrame, layout: str = "auto", verify: bool = True
) -> DataFrame:
    """Decode a (payload, signature, block, order) wire log, distributed.

    One output row per (mutation, BodyWrapper); a row that fails to
    verify or parse comes back with ``error`` set and the payload fields
    null — the caller chooses strictness. ``verify=False`` skips
    signature recovery (sender comes back empty): the fast path when
    provenance is established elsewhere.
    """

    _ship_wire_by_value()
    from rtstore_spark.wire.bsonlite import BsonError
    from rtstore_spark.wire.envelope import unwrap_and_verify
    from rtstore_spark.wire.translate import body_to_log_fields

    def _decode(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            rows = []
            for payload, sig, blk, order in zip(
                pdf["payload"], pdf["signature"], pdf["block"], pdf["order"]
            ):
                base = {c: None for c in _OUT_COLS}
                base["block"], base["order"] = int(blk), int(order)
                base["body_idx"] = -1
                try:
                    wm = unwrap_and_verify(
                        bytes(payload), str(sig), layout=layout, verify=verify
                    )
                    for bi, b in enumerate(wm.bodies):
                        fields = body_to_log_fields(wm.action, b)
                        rows.append({
                            **base, "body_idx": bi, "mid": wm.mutation_id,
                            "sender": wm.sender, "nonce": wm.nonce,
                            "action": wm.action, **fields,
                            "layout": wm.layout, "error": None,
                        })
                except (WireDecodeError, BsonError, ValueError) as e:
                    rows.append({**base, "error": f"{type(e).__name__}: {e}"})
            yield pd.DataFrame(rows, columns=_OUT_COLS)

    return (
        df.select("payload", "signature", "block", "order")
        .mapInPandas(_decode, WIRE_DECODE_SCHEMA)
    )


def _first_references(good: DataFrame) -> list:
    """Earliest reference per foreign db address — O(dbs) rows."""
    return (
        good.filter(F.col("db_addr").isNotNull())
        .groupBy("db_addr")
        .agg(
            F.min(F.struct("block", "order", "body_idx", "sender")).alias("_f")
        )
        .select(
            "db_addr", F.col("_f.block").alias("block"),
            F.col("_f.order").alias("order"), F.col("_f.sender").alias("sender"),
        )
        .collect()
    )


def _missing_collections(store, good: DataFrame) -> list:
    """(db, col, first-ref) pairs doc ops touch that the store lacks."""
    touched = (
        good.filter(F.col("action").isin(*_DOC_WIRE_ACTIONS))
        .groupBy("db_addr", "col_name")
        .agg(F.min(F.struct("block", "order", "sender")).alias("_f"))
        .collect()
    )
    if not touched:
        return []
    existing = store.collection_keys()
    return [t for t in touched if (t["db_addr"], t["col_name"]) not in existing]


def _empty_report() -> dict:
    """The import-report skeleton — ONE definition shared by the batch
    import and the streaming tail's quiet-trigger aggregate, so a new
    counter can't silently go missing from either."""
    return {
        "mutations": 0, "bodies": 0, "errors": 0, "control_applied": 0,
        "doc_ops": 0, "bound_creates": 0, "synthesized_creates": 0,
        "leftover_creates": 0, "autocreated_collections": 0,
        "skipped": 0, "already_applied": 0, "senders": [],
    }


def import_wire_rollup(
    store, rollup_df: DataFrame, layout: str = "auto", verify: bool = True,
    strict: bool = True,
) -> dict:
    """Replay a foreign (reference-format) rollup artifact into ``store``.

    Returns an import report. With ``strict=True`` any undecodable /
    unverifiable row, or an update/delete whose origin-assigned ids are
    unresolvable, raises; otherwise they are counted and skipped.
    """
    decoded = decode_wire_log(rollup_df, layout=layout, verify=verify).persist()
    try:
        report = _empty_report()
        err_rows = decoded.filter(F.col("error").isNotNull())
        examples = err_rows.limit(3).collect()
        if examples:
            report["errors"] = err_rows.count()
            if strict:
                raise WireDecodeError(
                    f"{report['errors']} undecodable rows, e.g. "
                    f"block={examples[0]['block']} order={examples[0]['order']}: "
                    f"{examples[0]['error']}"
                )
        good = decoded.filter(F.col("error").isNull()).persist()

        # shape validation BEFORE any state mutation: collection-scoped
        # ops must carry an address + collection name — a null-addressed
        # row would otherwise pollute the catalog and crash id assignment
        # far from its cause. (MintCollection's name comes from its body;
        # it is shape-checked here like the rest.)
        _misshapen = F.col("action").isin(
            *_DOC_WIRE_ACTIONS, "AddCollection", "AddIndex", "MintCollection"
        ) & (F.col("db_addr").isNull() | F.col("col_name").isNull())
        bad_shape = good.filter(_misshapen).limit(1).collect()
        if bad_shape:
            n_bad = good.filter(_misshapen).count()
            if strict:
                raise InvalidMutation(
                    f"{n_bad} rows lack db_address/collection (first at "
                    f"block={bad_shape[0]['block']} "
                    f"order={bad_shape[0]['order']})"
                )
            report["skipped"] += n_bad
            filtered = good.filter(~_misshapen).persist()
            good.unpersist()  # drop the superseded cache, not just the name
            good = filtered

        # ---- driver-side control pass, in (block, order) order -----------
        control = (
            good.filter(~F.col("action").isin(*_DOC_WIRE_ACTIONS))
            .orderBy("block", "order", "body_idx")
            .collect()
        )
        first_refs = sorted(
            _first_references(good), key=lambda r: (r["block"], r["order"])
        )
        known = set(store._catalog()[0])  # tombstoned addresses included
        pending: list = []  # creates whose foreign address is not yet bound

        def _create(row, addr: str | None):
            meta = json.loads(row["meta"]) if row["meta"] else None
            db_type = "event" if row["action"] == "CreateEventDB" else "doc"
            # a Mint carries the minted-for owner in its body
            # (MintDocumentDatabaseMutation.sender) — honor it over the
            # envelope signer so re-attested exports keep db ownership
            owner = (meta or {}).get("mint_sender") or row["sender"]
            # best-effort nonce consumption: a create bound AFTER later ops
            # already consumed higher nonces must not violate the
            # strictly-increasing guard — the bulk convergence at the end
            # covers its nonce anyway
            nonce = row["nonce"]
            if (
                not nonce
                or owner != row["sender"]  # minted-for owner: not the signer's nonce
                or nonce <= store.state.nonce_of(row["sender"])
            ):
                nonce = None
            created = store.create_database(
                owner, nonce, desc=row["desc"] or "",
                db_type=db_type, meta=meta, db_addr=addr,
                seq=(row["block"], row["order"]), mid=row["mid"],
            )
            known.add(created)
            return created

        def _ensure_db(addr: str, ref_sender: str, seq):
            """A referenced-but-unknown address: bind the oldest pending
            create (FIFO — a single-sequencer origin references creations
            in order), else synthesize one owned by the verified signer."""
            if addr in known:
                return
            if pending:
                _create(pending.pop(0), addr)
                report["bound_creates"] += 1
            else:
                store.create_database(
                    ref_sender, None, desc="", db_type="doc", db_addr=addr,
                    seq=seq,
                )
                known.add(addr)
                report["synthesized_creates"] += 1

        ref_i = 0

        def _drain_refs(upto):
            nonlocal ref_i
            while ref_i < len(first_refs):
                r = first_refs[ref_i]
                if (r["block"], r["order"]) >= upto:
                    break
                _ensure_db(r["db_addr"], r["sender"], (r["block"], r["order"]))
                ref_i += 1

        for row in control:
            # strictly-earlier references only: a ref at this row's own
            # (block, order) IS this row — its handler deals with it
            _drain_refs((row["block"], row["order"]))
            # idempotent re-import: a control nonce at or below the
            # sender's watermark was consumed by this same origin log —
            # the op is already applied (nonces are per-sender sequential
            # on a single-sequencer origin)
            if row["nonce"] and row["nonce"] <= store.state.nonce_of(row["sender"]):
                report["already_applied"] += 1
                continue
            action = row["action"]
            if action in ("CreateDocumentDB", "CreateEventDB"):
                if row["db_addr"]:  # carried an explicit address
                    if row["db_addr"] not in known:
                        _create(row, row["db_addr"])
                else:
                    pending.append(row)  # bound on first reference
                report["control_applied"] += 1
            elif action in ("MintDocumentDB", "MintCollection"):
                addr = row["db_addr"]
                if not addr:
                    if strict:
                        raise InvalidMutation(
                            f"mint without db_addr at block={row['block']}"
                        )
                    report["skipped"] += 1
                    continue
                if action == "MintDocumentDB":
                    if addr not in known:
                        _create(row, addr)
                else:
                    _ensure_db(addr, row["sender"], (row["block"], row["order"]))
                    if store._col_row(addr, row["col_name"]) is None:
                        store._create_collection_raw(
                            addr, row["col_name"], [], row["sender"],
                            seq=(row["block"], row["order"]), mid=row["mid"],
                        )
                report["control_applied"] += 1
            elif action in ("AddCollection", "AddIndex"):
                _ensure_db(
                    row["db_addr"], row["sender"], (row["block"], row["order"])
                )
                store.apply_mutation({
                    "id": row["mid"], "sender": row["sender"],
                    "nonce": row["nonce"],
                    "action": "add_collection" if action == "AddCollection"
                    else "add_index",
                    "db_addr": row["db_addr"], "col_name": row["col_name"],
                    "payload": json.dumps(
                        {"indexes": json.loads(row["indexes"] or "[]")}
                    ),
                    "doc_ids": None,
                    "block": row["block"], "order": row["order"],
                })
                report["control_applied"] += 1
            elif action == "DeleteEventDB":
                # owner-checked tombstone (client.deleteEventDatabase form)
                if row["db_addr"] in known:
                    store.tombstone_database(
                        row["db_addr"], row["sender"], row["block"], row["order"]
                    )
                    report["control_applied"] += 1
                else:
                    report["skipped"] += 1
            else:  # pragma: no cover - exhaustive over wire actions
                raise InvalidMutation(f"unmapped control action {action}")
        _drain_refs((float("inf"), float("inf")))
        # creates never referenced by anything: nothing depends on their
        # foreign address, so apply them at OUR deterministic address
        from rtstore_spark.store.docstore import derive_db_addr

        for row in pending:
            addr = derive_db_addr(row["sender"], row["nonce"], store.network)
            if addr not in known:
                _create(row, addr)
                report["leftover_creates"] += 1
        pending.clear()

        # ---- collections doc ops touch but no control op created ---------
        for t in _missing_collections(store, good):
            store._create_collection_raw(
                t["db_addr"], t["col_name"], [], t["_f"]["sender"],
                seq=(t["_f"]["block"], t["_f"]["order"]),
            )
            report["autocreated_collections"] += 1

        # ---- document ops: id assignment + set-wise replay ---------------
        doc = good.filter(F.col("action").isin(*_DOC_WIRE_ACTIONS))
        need_ids = doc.filter(
            (F.col("action") != "AddDocument") & F.col("wire_ids").isNull()
        )
        bad = need_ids.limit(1).collect()
        if bad:
            n_bad = need_ids.count()
            if strict:
                raise InvalidMutation(
                    f"{n_bad} update/delete rows carry no origin ids "
                    f"(first at block={bad[0]['block']})"
                )
            report["skipped"] += n_bad
            doc = doc.filter(
                (F.col("action") == "AddDocument") | F.col("wire_ids").isNotNull()
            )

        # idempotent re-import: drop doc ops whose mutation id is already
        # in the log (one left-anti join against the batch's block range —
        # partition-pruned, never the full history). Must happen BEFORE id
        # assignment so re-imported adds don't mint fresh ids.
        log_id = F.when(
            F.col("body_idx") > 0,
            F.concat_ws("-", F.col("mid"), F.col("body_idx")),
        ).otherwise(F.col("mid"))
        doc = doc.withColumn("_log_id", log_id)
        bounds = doc.agg(
            F.min("block").alias("_lo"), F.max("block").alias("_hi")
        ).collect()[0]
        if bounds["_lo"] is not None:
            already = store.get_range_mutations(
                int(bounds["_lo"]), int(bounds["_hi"]) + 1
            ).select(F.col("id").alias("_log_id"))
            # plain anti-join: AQE broadcasts when the range is small; a
            # resume over a huge range must not force a driver broadcast
            doc = doc.join(already, "_log_id", "left_anti")

        # per-db id base: continue after anything already known — current
        # counter AND the largest origin-supplied id in this batch
        touched_dbs = [r["db_addr"] for r in doc.select("db_addr").distinct().collect()]
        with store.state.lock:
            counter_base = {db: store.state.doc_counter(db) for db in touched_dbs}
        # only origin-ASSIGNED ids (adds) raise the base; update/delete ids
        # merely REFERENCE docs — often ones this same batch's id-less adds
        # are about to create
        wire_max = {
            r["db_addr"]: r["_m"]
            for r in doc.filter(
                F.col("wire_ids").isNotNull()
                & (F.col("action") == "AddDocument")
            )
            .select("db_addr", F.array_max("wire_ids").alias("_m"))
            .groupBy("db_addr").agg(F.max("_m").alias("_m")).collect()
        }
        base = {
            db: max(counter_base.get(db, 0), wire_max.get(db, 0) or 0)
            for db in touched_dbs
        }
        # empty batch (e.g. a full re-import anti-joined away): no map to
        # index — any long literal typechecks, no row ever reads it
        base_expr = (
            F.create_map(
                *[x for db in sorted(base) for x in (F.lit(db), F.lit(base[db]))]
            )[F.col("db_addr")]
            if base
            else F.lit(0).cast("long")
        )

        w = (
            Window.partitionBy("db_addr")
            .orderBy("block", "order", "body_idx")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        n_docs = F.when(
            (F.col("action") == "AddDocument") & F.col("wire_ids").isNull(),
            F.size("docs"),
        ).otherwise(F.lit(0))
        assigned = (
            doc.withColumn("_base", base_expr)
            .withColumn("_off", F.coalesce(F.sum(n_docs).over(w), F.lit(0)))
            .withColumn(
                "_ids",
                F.when(
                    F.col("wire_ids").isNotNull(), F.col("wire_ids")
                ).when(
                    # zero-doc adds must yield [] — sequence(n+1, n) would
                    # DESCEND (step defaults to -1), minting phantom ids
                    (F.col("action") == "AddDocument") & (F.size("docs") > 0),
                    F.sequence(
                        F.col("_base") + F.col("_off") + 1,
                        F.col("_base") + F.col("_off") + F.size("docs"),
                    ),
                ).when(
                    F.col("action") == "AddDocument",
                    F.array().cast("array<long>"),
                ),
            )
        )

        engine_action = (
            F.when(F.col("action") == "AddDocument", F.lit("add_document"))
            .when(F.col("action") == "UpdateDocument", F.lit("update_document"))
            .otherwise(F.lit("delete_document"))
        )
        payload_json = (
            F.when(
                F.col("action") == "AddDocument",
                F.to_json(F.struct(F.col("docs").alias("docs"))),
            )
            .when(
                F.col("action") == "UpdateDocument",
                F.to_json(F.struct(F.col("patches").alias("patches"))),
            )
            .otherwise(F.lit(None).cast("string"))
        )
        log_df = assigned.select(
            F.col("_log_id").alias("id"), "sender", "nonce",
            engine_action.alias("action"), "db_addr", "col_name",
            payload_json.alias("payload"),
            F.to_json(F.col("_ids")).alias("doc_ids"),
            "block", "order",
        )

        from rtstore_spark.store.replay import replay_log_batch

        report["doc_ops"] = int(replay_log_batch(store, log_df))
        report["bodies"] = int(good.count())
        report["mutations"] = int(
            good.select("block", "order").distinct().count()
        )
        report["senders"] = sorted(
            r["sender"] for r in good.select("sender").distinct().collect()
            if r["sender"]
        )
        return report
    finally:
        # `good` is assigned before anything can raise past this frame;
        # releasing it here (not on the success path only) keeps a failed
        # import from pinning executor storage for the session
        try:
            good.unpersist()
        except NameError:
            pass
        decoded.unpersist()


# --------------------------------------------------------------- tail-import

WIRE_ROLLUP_SCHEMA = T.StructType([
    T.StructField("payload", T.BinaryType(), True),
    T.StructField("signature", T.StringType(), True),
    T.StructField("block", T.LongType(), True),
    T.StructField("order", T.IntegerType(), True),
])


class WireTailImport:
    """Streaming tail of a GROWING foreign wire chain (S15, streaming form).

    The reference indexer cold-starts from the permaweb then keeps tailing
    new rollup artifacts (recover.rs:140-236, indexer_impl.rs:110-142).
    ``import_wire_rollup`` is the batch (cold-start) half; this class is
    the tail: a Structured Streaming file source over the artifact
    directory with an ``availableNow`` trigger — the same pattern as
    ``IndexerTail`` (streaming/blocks.py) — so each ``run_once()`` imports
    exactly the files that appeared since the last run, tracked by the
    streaming checkpoint.

    Idempotence comes from two layers: the checkpoint (each file is
    offered once) and the import's own ``already_applied`` dedup (a
    replayed micro-batch after a checkpoint rollback re-applies nothing).
    Databases created in earlier artifacts already exist in the store, so
    later windows bind to them by address like any mid-chain import.

    ``strict`` defaults to False here (unlike the batch form): a tail
    loop that dies on the first malformed foreign row can never make
    progress past it; errors are counted in the per-batch reports.
    """

    def __init__(self, spark: SparkSession, store, path: str,
                 checkpoint: str | None = None, layout: str = "auto",
                 verify: bool = True, strict: bool = False):
        import os

        self.spark = spark
        self.store = store
        self.path = path
        self.checkpoint = checkpoint or os.path.join(
            store.root, "_chk", "wire_tail"
        )
        self.layout = layout
        self.verify = verify
        self.strict = strict
        # running totals across every run_once() — bounded (one dict),
        # unlike a per-batch report list, which would grow forever on a
        # long-lived tail loop (each report carries a senders list)
        self.totals: dict = _empty_report()

    def run_once(self) -> dict:
        """Import everything new under ``path``; returns the aggregated
        report for this run (zeros when no new files appeared)."""
        batch_reports: list[dict] = []

        def apply_batch(batch_df, batch_id):
            if batch_df.isEmpty():
                return
            batch_reports.append(import_wire_rollup(
                self.store, batch_df, layout=self.layout,
                verify=self.verify, strict=self.strict,
            ))

        q = (
            self.spark.readStream.schema(WIRE_ROLLUP_SCHEMA)
            .parquet(self.path)
            .writeStream.outputMode("append")
            .option("checkpointLocation", self.checkpoint)
            .foreachBatch(apply_batch)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # zeroed skeleton so a quiet trigger still returns every counter
        # (callers read report["mutations"] per the documented contract)
        agg: dict = _empty_report()
        for rep in batch_reports:
            for k, v in rep.items():
                if isinstance(v, (int, float)):
                    agg[k] = agg.get(k, 0) + v
                elif isinstance(v, list):
                    agg[k] = sorted(set(agg.get(k, [])) | set(v))
        for k, v in agg.items():
            if isinstance(v, (int, float)):
                self.totals[k] = self.totals.get(k, 0) + v
            elif isinstance(v, list):
                self.totals[k] = sorted(set(self.totals.get(k, [])) | set(v))
        return agg
