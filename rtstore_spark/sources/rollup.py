"""Rollup sink & recovery source — the cold-storage plane.

The reference compresses mutation batches into gzip parquet with the exact
5-column Arrow schema ``payload: Binary, signature: Utf8, block: UInt64,
order: UInt32, doc_ids: Utf8`` and uploads to Arweave with tags carrying the
block range and a back-pointer to the previous rollup tx
(ar_toolbox.rs:48-54, :166-214; tags :299-332). Recovery walks the
back-pointer chain and replays mutations in (block, order) order
(recover.rs:140-236).

Spark mapping: one gzip-parquet file per rollup under ``rollups/``, plus a
manifest parquet table carrying the tag fields; the back-pointer chain is the
manifest ordered by end_block. GC reclaims rolled-up mutation-log space by
dropping whole block-bucket partition directories below the watermark,
keeping ``min_gc_offset`` rounds of history (rollup_executor.rs:169-238) —
see ``RollupExecutor.gc`` for why partition-drop (stable path, stream-safe,
object-store-safe) replaces the reference's row-exact delete.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# the reference's 5-column rollup schema (ar_toolbox.rs:48-54)
ROLLUP_SCHEMA = T.StructType(
    [
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("signature", T.StringType(), True),
        T.StructField("block", T.LongType(), True),
        T.StructField("order", T.IntegerType(), True),
        T.StructField("doc_ids", T.StringType(), True),
    ]
)

# GcRecord (db3_rollup.proto:22-28)
GC_RECORD_SCHEMA = T.StructType(
    [
        T.StructField("start_block", T.LongType(), False),
        T.StructField("end_block", T.LongType(), False),
        T.StructField("data_size", T.LongType(), False),
        T.StructField("time", T.LongType(), False),
        T.StructField("processed_time", T.LongType(), False),
    ]
)

MANIFEST_SCHEMA = T.StructType(
    [
        T.StructField("tx_id", T.StringType(), False),
        T.StructField("start_block", T.LongType(), False),
        T.StructField("end_block", T.LongType(), False),
        T.StructField("last_rollup_tx", T.StringType(), True),
        T.StructField("version_id", T.StringType(), False),
        T.StructField("rows", T.LongType(), False),
        T.StructField("compress_size", T.LongType(), False),
        T.StructField("time_ms", T.LongType(), False),
        T.StructField("created_ms", T.LongType(), True),
    ]
)


class RollupExecutor:
    """Batch job: mutation log rows → gzip parquet rollup + manifest row.

    Single-file-per-rollup mirrors the reference's one-Arweave-tx-per-rollup;
    at 100 TB you raise the cadence, not the file size — each rollup stays a
    bounded block range, and recovery parallelizes across rollup files.
    """

    def __init__(self, spark: SparkSession, root: str, fs=None):
        from rtstore_spark.store.fs import fs_for

        self.spark = spark
        self.root = root
        self.fs = fs or fs_for(root, spark)
        self.rollup_dir = os.path.join(root, "rollups")
        self.manifest_path = os.path.join(root, "rollup_manifest")
        self.fs.makedirs(self.rollup_dir)
        # when maybe_rollup first saw pending data with no manifest row
        # yet; anchors the time trigger before the first-ever rollup.
        # Persisted as a marker file so the anchor survives restarts and
        # fresh executor instances per scheduled run — instance-only state
        # would reset the clock every invocation and the trigger would
        # never fire.
        self._first_pending_path = os.path.join(root, "rollup_first_pending")

    @property
    def _first_pending_ms(self) -> int | None:
        txt = self.fs.read_text(self._first_pending_path)
        try:
            return int(txt.strip()) if txt else None
        except ValueError:
            return None

    @_first_pending_ms.setter
    def _first_pending_ms(self, value: int | None) -> None:
        if value is None:
            self.fs.delete(self._first_pending_path)
            return
        self.fs.write_text_atomic(self._first_pending_path, str(int(value)))

    def manifest(self) -> DataFrame:
        if not self.fs.exists(self.manifest_path):
            return self.spark.createDataFrame([], schema=MANIFEST_SCHEMA)
        return self.spark.read.schema(MANIFEST_SCHEMA).parquet(self.manifest_path)

    def last_rollup(self) -> dict | None:
        rows = self.manifest().orderBy(F.col("end_block").desc()).head(1)
        return rows[0].asDict() if rows else None

    def rollup(
        self, log_df: DataFrame, network: int = 1, open_block: int | None = None
    ) -> dict | None:
        """Roll up log rows beyond the last rolled block range.

        ``open_block``: the sequencer's still-open block — rows in it are
        excluded, because a mid-block rollup would fix the manifest's
        end_block at the open block and mutations appended to it afterwards
        would never be rolled up (then gc() would delete them from the log:
        silent loss from cold storage). Pass ``store.state.block``; rollup
        then only ever covers closed, immutable block ranges.
        """
        last = self.last_rollup()
        start = (last["end_block"] + 1) if last else 0
        batch = log_df.filter(F.col("block") >= start)
        if open_block is not None:
            batch = batch.filter(F.col("block") < open_block)
        # The payload column carries the FULL envelope as JSON (action,
        # sender, nonce, db_addr, col_name, body, id) — the reference's
        # rollup payload is the complete serialized Mutation for the same
        # reason: once gc() reclaims the hot log, cold storage is the ONLY
        # copy, and a body-only payload would make replay (replay_into)
        # structurally impossible. Schema stays the reference's 5 columns;
        # the signature column carries the mutation id (the unsigned
        # direct-API stand-in the log itself uses).
        envelope = F.to_json(
            F.struct(
                F.col("id"), F.col("sender"), F.col("nonce"),
                F.col("action"), F.col("db_addr"), F.col("col_name"),
                F.col("payload").alias("body"),
            )
        )
        batch = (
            batch
            .select(
                F.encode(envelope, "utf-8").alias("payload"),
                F.col("id").alias("signature"),
                F.col("block").cast("long").alias("block"),
                F.col("order").cast("int").alias("order"),
                F.col("doc_ids"),
            )
            .orderBy("block", "order")
        )
        t0 = time.time()
        stats = batch.agg(
            F.count(F.lit(1)).alias("n"),
            F.min("block").alias("lo"),
            F.max("block").alias("hi"),
        ).collect()[0]
        n, bounds = stats["n"], stats
        if n == 0:
            return None
        tx_id = f"rollup_{bounds['lo']}_{bounds['hi']}"
        path = os.path.join(self.rollup_dir, f"{bounds['lo']}_{bounds['hi']}.gz.parquet")
        # one file per rollup tx, gzip like ar_toolbox.rs:197-214
        batch.coalesce(1).write.mode("overwrite").option(
            "compression", "gzip"
        ).parquet(path)
        size = sum(
            self.fs.du(f)
            for f in self.fs.list_files_recursive(path)
            if f.endswith(".parquet")
        )
        row = {
            "tx_id": tx_id,
            "start_block": int(bounds["lo"]),
            "end_block": int(bounds["hi"]),
            "last_rollup_tx": last["tx_id"] if last else None,
            "version_id": "v2",
            "rows": n,
            "compress_size": size,
            "time_ms": int((time.time() - t0) * 1000),
            "created_ms": int(t0 * 1000),
        }
        self.spark.createDataFrame([row], schema=MANIFEST_SCHEMA).coalesce(
            1
        ).write.mode("append").parquet(self.manifest_path)
        return row

    def maybe_rollup(
        self,
        log_df: DataFrame,
        config: dict | None = None,
        network: int = 1,
        open_block: int | None = None,
        now_ms: int | None = None,
    ) -> dict | None:
        """The scheduled rollup policy (storage_node_light_impl.rs:167,
        :787-789): roll when the pending batch reaches ``min_rollup_size``
        payload bytes, or — regardless of size — when ``rollup_max_interval``
        ms have passed since the last rollup and anything is pending.

        ``config``: a SystemStore.config() dict (min_rollup_size,
        rollup_max_interval); reference defaults apply when absent. This is
        the driver-side policy gate; the size probe is one pushed-down
        aggregate over the pending block range.
        """
        cfg = config or {}
        min_size = int(cfg.get("min_rollup_size", 1024 * 1024))
        max_interval = int(cfg.get("rollup_max_interval", 24 * 60 * 60 * 1000))
        now_ms = now_ms if now_ms is not None else int(time.time() * 1000)

        last = self.last_rollup()
        start = (last["end_block"] + 1) if last else 0
        pending = log_df.filter(F.col("block") >= start)
        if open_block is not None:
            pending = pending.filter(F.col("block") < open_block)
        size = pending.agg(
            F.coalesce(F.sum(F.length("payload")), F.lit(0)).alias("s")
        ).collect()[0]["s"]
        if size <= 0:
            return None
        # Anchor for the time trigger: the last rollup's timestamp, or —
        # before the first-ever rollup — the first time this node saw
        # pending data. Without the latter, a low-traffic node whose
        # pending payload never reaches min_rollup_size would never roll
        # up at all (the reference's scheduled policy rolls on the
        # max-interval cadence regardless of size).
        if last is not None and last.get("created_ms") is not None:
            anchor_ms = last["created_ms"]
            self._first_pending_ms = None
        else:
            if self._first_pending_ms is None:
                self._first_pending_ms = now_ms
            anchor_ms = self._first_pending_ms
        overdue = now_ms - anchor_ms >= max_interval
        if size < min_size and not overdue:
            return None
        out = self.rollup(log_df, network=network, open_block=open_block)
        if out is not None:
            self._first_pending_ms = None
        return out

    def gc(self, store, min_gc_offset: int = 0) -> int:
        """Reclaim mutation-log space already rolled up, keeping the newest
        ``min_gc_offset`` rollup rounds of history (rollup_executor.rs:169-238).
        Appends a GcRecord row (db3_rollup.proto:22-28) per round.

        Reclamation is **partition-granular**: whole ``block_bucket=``
        directories strictly below the watermark's bucket are deleted.
        Object-store safe (plain deletes, no rename, no pointer), and —
        critically — the log path stays STABLE, so live tail-sync /
        block-event streams watching the directory keep receiving new
        appends across GC rounds (a snapshot-swap would move the live
        directory out from under them). The boundary bucket, which can mix
        rolled-up and newer blocks, is retained until it fully ages below
        a later watermark — GC is space reclamation only (rolled-up rows
        are safe in cold storage and invisible to correctness), so keeping
        up to one extra bucket (LOG_BLOCKS_PER_BUCKET blocks) is a bounded,
        documented deviation from the reference's row-exact delete.

        Returns the GC watermark block (exclusive)."""
        rounds = self.manifest().orderBy(F.col("end_block").desc()).collect()
        if len(rounds) <= min_gc_offset:
            return 0
        watermark = rounds[min_gc_offset]["end_block"] + 1
        t0 = time.time()
        removed_size = store.drop_log_buckets_before(watermark)
        # this round's true start = the previous round's end + 1 (0 for the
        # first) — a hardcoded 0 would make every later record claim an
        # overlapping range whose data_size doesn't match the span
        prev = (
            self.scan_gc_records(limit=1).collect()
            if self.fs.exists(os.path.join(self.root, "gc_records"))
            else []
        )
        record = {
            "start_block": int(prev[0]["end_block"] + 1) if prev else 0,
            "end_block": int(watermark - 1),
            "data_size": int(removed_size),
            "time": int(t0 * 1000),
            "processed_time": int((time.time() - t0) * 1000),
        }
        self.spark.createDataFrame([record], schema=GC_RECORD_SCHEMA).coalesce(
            1
        ).write.mode("append").parquet(os.path.join(self.root, "gc_records"))
        return watermark

    def scan_gc_records(self, offset: int = 0, limit: int = 50) -> DataFrame:
        """ScanGcRecord (db3_storage.proto:146-153): newest-first page."""
        path = os.path.join(self.root, "gc_records")
        if not self.fs.exists(path):
            return self.spark.createDataFrame([], schema=GC_RECORD_SCHEMA)
        return (
            self.spark.read.schema(GC_RECORD_SCHEMA)
            .parquet(path)
            .orderBy(F.col("end_block").desc())
            .offset(offset)
            .limit(min(limit, 50))
        )

    def permaweb_uploads(self) -> dict[str, dict]:
        """tx_id → upload record (ar_tx_id, reward, and evm_tx/evm_cost
        when on-chain registration is configured), from the
        PermawebUploader's state file (sources/permaweb.py) when this
        node ships its rollups to a permaweb gateway; {} otherwise.
        O(rollup rounds) JSON."""
        import json

        from rtstore_spark.sources.permaweb import PERMAWEB_STATE_FILE

        text = self.fs.read_text(os.path.join(self.root, PERMAWEB_STATE_FILE))
        if not text:
            return {}
        return {rec["tx_id"]: rec for rec in json.loads(text)}

    def scan_rollup_records(self, offset: int = 0, limit: int = 50) -> DataFrame:
        """ScanRollupRecord: the manifest, newest-first, capped page.
        ``arweave_tx`` carries the real permaweb tx id once the uploader
        ships a round (the reference's RollupRecord.arweave_tx,
        db3_rollup.proto:35) — a follower reads the newest record's
        arweave_tx as the chain tip for PermawebWireTail.poll().
        ``evm_tx``/``evm_cost`` carry the on-chain registration when the
        uploader runs with a MetaStoreClient (RollupRecord fields 10/11)."""
        page = (
            self.manifest()
            .orderBy(F.col("end_block").desc())
            .offset(offset)
            .limit(min(limit, 50))
            .collect()  # the page is ≤ 50 rows by contract
        )
        # fill the upload columns DRIVER-SIDE from the already-loaded
        # state dict: a create_map literal per recorded round would make
        # every RPC build O(rollup rounds) Column expressions for
        # Catalyst to analyze — multi-second plans after ~10k rounds
        uploads = self.permaweb_uploads()
        rows = []
        for r in page:
            d = r.asDict()
            rec = uploads.get(d["tx_id"], {})
            d["arweave_tx"] = rec.get("ar_tx_id")
            d["evm_tx"] = rec.get("evm_tx")
            d["evm_cost"] = rec.get("evm_cost")
            rows.append(d)
        schema = T.StructType(MANIFEST_SCHEMA.fields + [
            T.StructField("arweave_tx", T.StringType(), True),
            T.StructField("evm_tx", T.StringType(), True),
            T.StructField("evm_cost", T.LongType(), True),
        ])
        return self.spark.createDataFrame(rows, schema=schema)

    # -- recovery (S10): rollup files → mutation rows, ordered --

    @staticmethod
    def load_rollup_file(spark: SparkSession, path: str,
                         recursive: bool = False) -> DataFrame:
        """Read a rollup parquet written by ANY producer — including the
        reference node's Arrow writer (ar_toolbox.rs:48-54), which declares
        block/order as *unsigned* UInt64/UInt32 — and normalize to
        ROLLUP_SCHEMA.

        Spark maps parquet uint64 → decimal(20,0) and uint32 → long on
        inference (an explicit long/int schema aborts on the unsigned
        dictionaries), so read with the file's own schema and cast; a
        pre-doc_ids file (the reference's 4-column era) gets doc_ids=null.
        ``recursive`` reads a whole artifact directory tree (the node
        launcher's recover path over rollups/<range>.gz.parquet/ subdirs).
        """
        reader = spark.read
        if recursive:
            reader = reader.option("recursiveFileLookup", "true")
        df = reader.parquet(path)
        cols = [
            F.col("payload").cast("binary").alias("payload"),
            F.col("signature").cast("string").alias("signature"),
            F.col("block").cast("long").alias("block"),
            F.col("order").cast("int").alias("order"),
            (
                F.col("doc_ids").cast("string")
                if "doc_ids" in df.columns
                else F.lit(None).cast("string")
            ).alias("doc_ids"),
        ]
        return df.select(cols)

    def recover_chain(self) -> list[str]:
        """Walk the Last-Rollup-Tx back-pointers from newest to oldest, then
        reverse — recover.rs:140-236."""
        rows = {r["tx_id"]: r.asDict() for r in self.manifest().collect()}
        if not rows:
            return []
        newest = max(rows.values(), key=lambda r: r["end_block"])
        chain = []
        cur: dict | None = newest
        while cur is not None:
            chain.append(cur["tx_id"])
            prev = cur.get("last_rollup_tx")
            cur = rows.get(prev) if prev else None
        return list(reversed(chain))

    def read_rollups(self, tx_ids: list[str] | None = None) -> DataFrame:
        """Parallel scan of rollup files in replay order."""
        chain = tx_ids if tx_ids is not None else self.recover_chain()
        paths = []
        for tx in chain:
            lo, hi = tx.removeprefix("rollup_").split("_")
            paths.append(os.path.join(self.rollup_dir, f"{lo}_{hi}.gz.parquet"))
        if not paths:
            return self.spark.createDataFrame([], schema=ROLLUP_SCHEMA)
        return (
            self.spark.read.schema(ROLLUP_SCHEMA)
            .parquet(*paths)
            .orderBy("block", "order")
        )

    _ENVELOPE_SCHEMA = (
        "id string, sender string, nonce long, action string, "
        "db_addr string, col_name string, body string"
    )

    def replay_into(self, store) -> int:
        """Recovery: re-apply every rolled-up mutation into ``store`` in
        (block, order) sequence — the cold-start path once gc() has
        reclaimed the hot log (recover.rs:140-236 walks the same chain).

        Two replayable formats, auto-detected: this engine's
        self-describing JSON envelopes (the native rollup() output), and
        REFERENCE WIRE FORMAT — EIP-712 TypedData around protobuf
        Mutations, the rows the reference node itself rolls up
        (ar_toolbox.rs:83-127) and sources/wire_export.py produces. A
        wire-format chain routes through ``import_wire_rollup`` (same
        set-wise replay underneath); an undecodable payload, or a chain
        MIXING both formats (whose interleaving this recovery has no
        order contract for), raises instead of silently skipping history.
        Returns the number of mutations applied. Native envelopes form a
        LOG_SCHEMA-shaped DataFrame applied SET-WISE (store/replay.py) —
        logged (block, order) and mutation ids are adopted, so the
        recovered replica's log matches the origin's, in O(collections
        touched) Spark jobs instead of the reference's O(mutations)
        sequential recovery walk (recover.rs:140-236).
        """
        return replay_rollup_frame(store, self.read_rollups())


def replay_rollup_frame(store, raw: DataFrame) -> int:
    """Format-probe + replay an arbitrary rollup-artifact DataFrame (the
    5-column rollup schema) into ``store`` — the body of
    ``RollupExecutor.replay_into``, shared with the node launcher's
    ``recover`` command, which cold-starts from a bare artifact
    directory (downloaded permaweb chain) with no manifest."""
    from rtstore_spark.store.replay import replay_log_batch

    from pyspark import StorageLevel

    # persist the DECODED history once: the format probe, the
    # control collect, the doc-op derivation and the end-of-batch
    # converge aggregate all traverse it — unpersisted, each would
    # re-read and re-from_json the whole rollup chain (3-4 full
    # history decodes per recovery)
    log_df = raw.select(
        F.from_json(
            F.decode(F.col("payload"), "utf-8"), RollupExecutor._ENVELOPE_SCHEMA
        ).alias("e"),
        # wire probe: a TypedData envelope has message.payload hex
        F.get_json_object(
            F.decode(F.col("payload"), "utf-8"), "$.message.payload"
        ).alias("_wire"),
        "block", "order", "doc_ids",
    ).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        ours = F.col("e").isNotNull() & F.col("e.action").isNotNull()
        shape = log_df.agg(
            F.sum(ours.cast("int")).alias("n_ours"),
            F.sum((~ours & F.col("_wire").isNotNull()).cast("int")).alias("n_wire"),
            F.sum((~ours & F.col("_wire").isNull()).cast("int")).alias("n_bad"),
        ).collect()[0]
        if shape["n_bad"]:
            raise ValueError(
                f"{shape['n_bad']} rollup payloads decode as neither a "
                "self-describing envelope nor reference wire format — "
                "cannot replay"
            )
        if shape["n_wire"]:
            if shape["n_ours"]:
                raise ValueError(
                    "rollup chain mixes native and wire-format payloads "
                    f"({shape['n_ours']} native, {shape['n_wire']} wire) "
                    "— replay them separately"
                )
            from rtstore_spark.sources.wire_import import import_wire_rollup

            report = import_wire_rollup(store, raw)
            return int(report["control_applied"] + report["doc_ops"])
        return replay_log_batch(
            store,
            log_df.select(
                F.col("e.id").alias("id"), F.col("e.sender").alias("sender"),
                F.coalesce(F.col("e.nonce"), F.lit(0)).alias("nonce"),
                F.col("e.action").alias("action"),
                F.col("e.db_addr").alias("db_addr"),
                F.col("e.col_name").alias("col_name"),
                F.col("e.body").alias("payload"),
                "doc_ids", "block", "order",
            ),
        )
    finally:
        log_df.unpersist()
