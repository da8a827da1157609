"""Set-wise replica replay — the scale path for log/rollup catch-up.

The reference's indexer re-applies logged mutations one at a time
(indexer_impl.rs:259-324), which is fine on a single RocksDB node but a
scale-killer through Spark: each ``apply_mutation`` call issues at least one
Spark job (a createDataFrame + parquet append per mutation), so catching a
replica up on an N-mutation log costs O(N) driver round-trips while the
cluster idles. This module applies a whole micro-batch of ORIGIN LOG ROWS
set-wise, so the Spark job count is O(collections touched + control ops) —
independent of the mutation count:

1. control ops (create_*_db / add_collection / add_index) are rare; they are
   collected and applied driver-side in (block, order) order through
   ``DocStore.apply_mutation`` — unchanged semantics (idempotence, event-db
   table fan-out, nonce consumption), and they re-log themselves.
2. document ops replay per touched collection with a CONSTANT number of
   jobs, reusing the block applier's machinery (store/batch_apply.py):
   - adds: one exploded (doc_ids ∥ docs) append — ids come from the logged
     doc_ids_map (mutation_utils.rs:138-179), never this replica's counter,
     so replica ids match the origin exactly;
   - updates: per-doc patch chains fold in (block, order) order into ONE
     equivalent RFC-7386 patch (``make_fold_patches``), merged against the
     pre-update state (pre-batch files ∪ this batch's adds) and
     appended as one U version at the chain's last (block, order);
   - deletes: one exploded tombstone append.
   Folding is equivalence-preserving for a valid origin log: per doc the
   logged lifecycle is A? U* D? in (block, order) order (the origin rejected
   anything else before logging), so the merge-on-read window over the
   replayed rows yields byte-identical ``current_state`` — with the
   intermediate U versions collapsed, i.e. the replica lands in the state a
   sequential replay plus ``compact()`` would reach.
3. the origin's doc-op log rows are appended VERBATIM to the replica's log
   (one distributed write): identical mutation ids, payloads, doc_ids_map,
   (block, order) — GetMutationHeader agrees across replicas by
   construction.
4. sequencer state converges via small aggregates (O(senders + dbs) rows):
   per-sender max nonce, per-db max logged doc id, max (block, order).

Batch-ordering assumption (same as the sequential tail it replaces): when
the log is replayed in several micro-batches, batches arrive in log order
(the streaming file source discovers a single-writer log's files in append
order). Within one batch, order is algebraic — (block, order) keys drive
every fold and window, so no sort is needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from rtstore_spark.errors import CollectionNotFound
from rtstore_spark.functions.merge_patch import make_json_merge_patch
from rtstore_spark.store.batch_apply import _DOC_ACTIONS, make_fold_patches
from rtstore_spark.store.docstore import LOG_SCHEMA

_PAYLOAD = "docs array<string>, patches array<string>"

# bound on concurrently-replaying collections per batch: each worker holds
# one in-flight Spark job round; 8 keeps the driver's scheduler and memory
# pressure flat while hiding nearly all of the per-collection write latency
REPLAY_MAX_PARALLEL_COLLECTIONS = 8


def _replay_collection(
    replica, db: str, col: str, actions: set, doc: DataFrame
) -> None:
    """One collection's document ops from a replayed batch — adds, folded
    updates, deletes, in that order (the state the updates merge against
    must see this batch's adds). Runs on a pool thread; everything it
    touches is collection-local (the data directory, the append counter
    note)."""
    # UDF wrappers are created per call: pandas-UDF objects are cheap, and
    # per-thread instances avoid sharing one lazily-registered function
    # across concurrently-built plans
    fold = make_fold_patches()
    merge = make_json_merge_patch()
    muts = doc.filter(
        (F.col("db_addr") == db) & (F.col("col_name") == col)
    )

    # ---- adds first: logged ids ∥ docs, one exploded append
    if "add_document" in actions:
        add_rows = (
            muts.filter(F.col("action") == "add_document")
            .select(
                F.col("sender").alias("owner"), "block", "order",
                F.explode(
                    F.arrays_zip(F.col("_log_ids"), F.col("_p.docs"))
                ).alias("_z"),
            )
            .select(
                F.col("_z._log_ids").alias("doc_id"), "owner",
                F.col("_z.docs").alias("doc"),
                F.lit("A").alias("op"), "block", "order",
            )
        )
        replica.append_versions(db, col, add_rows)

    # state for the update merge: read AFTER the adds append, so its
    # file listing covers pre-batch files ∪ this batch's adds, and
    # kept by the frame while the U/D appends below land
    if "update_document" in actions:
        state_df = replica.current_state(db, col)
        upd = (
            muts.filter(F.col("action") == "update_document")
            .select(
                "block", "order",
                F.explode(
                    F.arrays_zip(F.col("_log_ids"), F.col("_p.patches"))
                ).alias("_z"),
            )
            .select(
                F.col("_z._log_ids").alias("doc_id"),
                "block", "order", F.col("_z.patches").alias("patch"),
            )
        )
        folded = (
            upd.groupBy("doc_id")
            .agg(
                F.sort_array(
                    F.collect_list(F.struct("block", "order", "patch"))
                ).alias("_chain"),
                F.max(F.struct("block", "order")).alias("_last"),
            )
            .select(
                "doc_id", fold(F.col("_chain")).alias("_patch"),
                F.col("_last.block").alias("block"),
                F.col("_last.order").alias("order"),
            )
        )
        merged = state_df.select("doc_id", "owner", "doc").join(
            folded, "doc_id"
        ).select(
            "doc_id", "owner",
            merge(F.col("doc"), F.col("_patch")).alias("doc"),
            F.lit("U").alias("op"), "block", "order",
        )
        replica.append_versions(db, col, merged)

    if "delete_document" in actions:
        del_rows = (
            muts.filter(F.col("action") == "delete_document")
            .select(
                F.col("sender").alias("owner"), "block", "order",
                F.explode("_log_ids").alias("doc_id"),
            )
            .select(
                "doc_id", "owner",
                F.lit(None).cast("string").alias("doc"),
                F.lit("D").alias("op"), "block", "order",
            )
        )
        replica.append_versions(db, col, del_rows)


def replay_log_batch(replica, batch_df: DataFrame) -> int:
    """Apply one micro-batch of origin mutation-log rows to ``replica``.

    ``batch_df`` rows carry the LOG_SCHEMA columns (extra columns such as
    the block_bucket partition are ignored). Returns the number of
    mutations applied. Idempotence matches the sequential path: re-applying
    a row re-appends an identical version at the same (block, order), which
    the merge-on-read window collapses.
    """
    spark = replica.spark
    batch = batch_df.select([f.name for f in LOG_SCHEMA.fields])

    # -- 1. control plane: rare ops, driver-side, in (block, order) order.
    # Applied BEFORE the bulk nonce advance so each op's own incr_nonce
    # still sees the pre-batch value, and before doc ops so a collection
    # created in this batch exists for its documents.
    control = (
        batch.filter(~F.col("action").isin(*_DOC_ACTIONS))
        .orderBy("block", "order")
        .collect()
    )
    for r in control:
        replica.apply_mutation(r.asDict())

    # -- 2. document ops, set-wise per touched collection.
    doc = (
        batch.filter(F.col("action").isin(*_DOC_ACTIONS))
        .withColumn("_p", F.from_json("payload", _PAYLOAD))
        .withColumn("_log_ids", F.from_json("doc_ids", "array<bigint>"))
        .persist()
    )
    try:
        # one header aggregate (O(collections × actions) rows) decides the
        # touched set and which op kinds each collection has — no probe jobs
        info = (
            doc.groupBy("db_addr", "col_name", "action")
            .agg(F.count(F.lit(1)).alias("_n"))
            .collect()
        )
        n_doc_ops = 0
        by_col: dict[tuple, set] = {}
        for r in info:
            by_col.setdefault((r["db_addr"], r["col_name"]), set()).add(r["action"])
            n_doc_ops += r["_n"]
        if not by_col:
            _converge_state(replica, batch, doc, has_doc_ops=False)
            return len(control)

        missing = sorted(set(by_col) - replica.collection_keys())
        if missing:
            # a logged doc op always followed its collection's creation on
            # the origin — a miss here means a torn/foreign log, not a
            # rejectable user error
            raise CollectionNotFound(
                f"log references unknown collections: {missing}"
            )

        cols = sorted(by_col)
        if len(cols) == 1:
            _replay_collection(replica, cols[0][0], cols[0][1], by_col[cols[0]], doc)
        else:
            # Collections are independent (disjoint data directories), so
            # their append rounds run through a BOUNDED thread pool: Spark
            # schedules concurrent jobs from one driver, so a batch that
            # touches 50 collections overlaps its writes instead of paying
            # 50 sequential driver-blocking rounds. Within one collection
            # the adds → state read → updates → deletes order is
            # preserved (it is one task). Pool size caps driver memory and
            # scheduler pressure; errors propagate after all tasks settle
            # (fail-fast would leave sibling writes mid-flight).
            from concurrent.futures import ThreadPoolExecutor

            workers = min(REPLAY_MAX_PARALLEL_COLLECTIONS, len(cols))
            with ThreadPoolExecutor(max_workers=workers) as pool:
                futures = [
                    pool.submit(
                        _replay_collection, replica, db, col, by_col[(db, col)], doc
                    )
                    for db, col in cols
                ]
                errors = [f.exception() for f in futures]
            for e in errors:
                if e is not None:
                    raise e

        # -- 3a. sequencer-convergence aggregates, evaluated BEFORE the
        # log append: an incremental import's batch plan anti-joins
        # against the replica's own mutation log (sources/wire_import.py)
        # — lazy re-evaluation AFTER the append would see its own rows in
        # the log, anti-join everything away, and silently skip the
        # nonce / doc-counter folds (the bug the wire tail-import
        # surfaced: the next batch then re-assigns doc ids from 0)
        snapshot = _converge_aggregates(batch, doc, has_doc_ops=True)

        # -- 3b. the log: origin rows verbatim, one distributed append
        replica.append_log(doc)

        # -- 4. sequencer convergence (fold AFTER the append so a crash
        # between 3b and 4 leaves watermarks behind the log, never ahead
        # — re-applying the batch stays safe)
        _converge_fold(replica, snapshot)
        return len(control) + int(n_doc_ops)
    finally:
        doc.unpersist()


def _converge_aggregates(batch: DataFrame, doc: DataFrame, has_doc_ops: bool):
    """Evaluate the sequencer-convergence aggregates: per-sender max
    nonce, per-db max logged doc id, max (block, order). Small —
    O(senders + dbs) collected rows, 1-2 jobs. MUST run before the
    batch's rows are appended to the replica log when the batch plan
    reads that log (self-referential anti-join)."""
    agg = id_max = ()
    if has_doc_ops:
        agg = doc.groupBy("sender").agg(F.max("nonce").alias("_n")).collect()
        id_max = (
            doc.filter(F.col("action") == "add_document")
            .select("db_addr", F.array_max("_log_ids").alias("_m"))
            .groupBy("db_addr")
            .agg(F.max("_m").alias("_m"))
            .collect()
        )
    top = batch.agg(F.max(F.struct("block", "order")).alias("_t")).collect()[0]["_t"]
    return agg, id_max, top


def _converge_fold(replica, snapshot) -> None:
    """Fold pre-evaluated convergence aggregates into the sequencer."""
    agg, id_max, top = snapshot
    state = replica.state
    with state.lock:
        for r in agg:
            if r["_n"] and r["_n"] > state._state["nonces"].get(r["sender"], 0):
                state._state["nonces"][r["sender"]] = int(r["_n"])
        for r in id_max:
            if r["_m"] is not None:
                cur = state._state["doc_counters"].get(r["db_addr"], 0)
                state._state["doc_counters"][r["db_addr"]] = max(cur, int(r["_m"]))
        if top is not None and (top["block"], top["order"]) >= (state.block, state.order):
            state._state["block"], state._state["order"] = (
                int(top["block"]), int(top["order"]),
            )
        state._flush()


def _converge_state(replica, batch: DataFrame, doc: DataFrame, has_doc_ops: bool):
    """Evaluate + fold in one step (safe when the batch plan does not
    read the replica's own log, e.g. the empty-doc-ops path)."""
    _converge_fold(replica, _converge_aggregates(batch, doc, has_doc_ops))
