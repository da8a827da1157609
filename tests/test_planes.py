"""Tests for the StructuredQuery front-end, rollup/recovery plane, streaming
plane, and the EVM event source."""

from __future__ import annotations

import json

import pytest

from rtstore_spark.errors import QueryError
from rtstore_spark.plans import run_structured_query
from rtstore_spark.sources.evm import EventProcessor, JsonlLogSource
from rtstore_spark.sources.rollup import ROLLUP_SCHEMA, RollupExecutor
from rtstore_spark.store import DocStore
from rtstore_spark.streaming.blocks import BlockEventStream, IndexerTail

ALICE = "0x" + "aa" * 20


class TestStructuredQuery:
    @pytest.fixture(scope="class")
    def docs(self, spark, sf_dir):
        from rtstore_spark.tables import load_table

        return load_table(spark, sf_dir, "documents")

    def test_field_filter_ops(self, docs):
        q = {"where": {"field_filter": {"field": "lang", "op": "EQUAL", "value": "en"}}}
        expected = docs.filter(docs.lang == "en").count()
        assert run_structured_query(docs, q).count() == expected
        q2 = {"where": {"field_filter": {"field": "n_chars", "op": "GREATER_THAN", "value": 300}}}
        assert run_structured_query(docs, q2).count() == docs.filter(docs.n_chars > 300).count()

    def test_composite_and(self, docs):
        q = {
            "where": {
                "composite_filter": {
                    "op": "AND",
                    "filters": [
                        {"field_filter": {"field": "lang", "op": "EQUAL", "value": "en"}},
                        {"field_filter": {"field": "n_chars", "op": "LESS_THAN", "value": 200}},
                    ],
                }
            }
        }
        expected = docs.filter((docs.lang == "en") & (docs.n_chars < 200)).count()
        assert run_structured_query(docs, q).count() == expected

    def test_select_limit_order(self, docs):
        q = {
            "select": {"fields": [{"field_path": "doc_id"}, {"field_path": "lang"}]},
            "order_by": [{"field": "doc_id", "direction": "DESC"}],
            "limit": 3,
        }
        rows = run_structured_query(docs, q).collect()
        assert len(rows) == 3
        assert rows[0]["doc_id"] > rows[1]["doc_id"] > rows[2]["doc_id"]
        assert set(rows[0].asDict()) == {"doc_id", "lang"}

    def test_in_and_offset_extensions(self, docs):
        q = {
            "where": {"field_filter": {"field": "lang", "op": "IN", "value": ["en", "fr"]}},
            "order_by": [{"field": "doc_id"}],
            "offset": 5,
            "limit": 5,
        }
        rows = run_structured_query(docs, q).collect()
        base = (
            docs.filter(docs.lang.isin("en", "fr")).orderBy("doc_id").collect()[5:10]
        )
        assert [r["doc_id"] for r in rows] == [r["doc_id"] for r in base]

    def test_bad_nodes(self, docs):
        with pytest.raises(QueryError):
            run_structured_query(docs, {"where": {"field_filter": {"field": "lang", "op": "NOPE"}}})
        with pytest.raises(QueryError):
            run_structured_query(docs, {"where": {"bogus": {}}})


class TestRollup:
    def test_rollup_gc_recover_roundtrip(self, spark, tmp_path, monkeypatch):
        # 1 block per log partition so bucket-granular GC is exact at
        # test scale (production: 10k blocks per bucket, GC keeps at most
        # one partially-rolled boundary bucket)
        import rtstore_spark.store.docstore as ds

        monkeypatch.setattr(ds, "LOG_BLOCKS_PER_BUCKET", 1)
        store = DocStore(spark, str(tmp_path / "w"))
        db = store.create_database(ALICE, nonce=1)
        store.create_collection(db, "c", [], ALICE)
        store.state.next_block()
        store.add_docs(db, "c", ['{"v": 1}', '{"v": 2}'], ALICE)
        store.state.next_block()
        store.add_docs(db, "c", ['{"v": 3}'], ALICE)

        ex = RollupExecutor(spark, str(tmp_path / "w"))
        row = ex.rollup(store.mutation_log())
        assert row is not None and row["rows"] == 4  # create_db + add_col + 2 adds
        assert row["last_rollup_tx"] is None

        # second rollup chains to the first
        store.state.next_block()
        store.add_docs(db, "c", ['{"v": 4}'], ALICE)
        row2 = ex.rollup(store.mutation_log())
        assert row2["last_rollup_tx"] == row["tx_id"]

        # recovery chain is oldest→newest and yields the exact 5-col schema
        chain = ex.recover_chain()
        assert chain == [row["tx_id"], row2["tx_id"]]
        recovered = ex.read_rollups()
        assert recovered.schema == ROLLUP_SCHEMA
        assert recovered.count() == 5
        blocks = [r["block"] for r in recovered.collect()]
        assert blocks == sorted(blocks)

        # gc with offset 0 clears the whole rolled range
        watermark = ex.gc(store, min_gc_offset=0)
        assert watermark == row2["end_block"] + 1
        assert store.mutation_log().count() == 0

    def test_maybe_rollup_policy(self, spark, tmp_path):
        """The SystemConfig-driven rollup policy: below min_rollup_size
        nothing rolls; raising past the threshold rolls; a stale batch
        rolls regardless of size once rollup_max_interval has passed."""
        store = DocStore(spark, str(tmp_path / "wpol"))
        db = store.create_database(ALICE, nonce=1)
        store.create_collection(db, "c", [], ALICE)
        store.add_docs(db, "c", ['{"v": 1}'], ALICE)
        store.state.next_block()

        ex = RollupExecutor(spark, str(tmp_path / "wpol"))
        big = {"min_rollup_size": 10_000_000, "rollup_max_interval": 10_000}
        assert ex.maybe_rollup(store.mutation_log(), big,
                               open_block=store.state.block) is None

        small = {"min_rollup_size": 1, "rollup_max_interval": 10_000}
        row = ex.maybe_rollup(store.mutation_log(), small,
                              open_block=store.state.block)
        assert row is not None and row["rows"] == 3
        assert row["created_ms"] > 0

        # new pending rows below min size: held back...
        store.add_docs(db, "c", ['{"v": 2}'], ALICE)
        store.state.next_block()
        assert ex.maybe_rollup(store.mutation_log(), big,
                               open_block=store.state.block) is None
        # ...until the max interval elapses — then size no longer matters
        future = row["created_ms"] + 20_000
        row2 = ex.maybe_rollup(store.mutation_log(), big,
                               open_block=store.state.block, now_ms=future)
        assert row2 is not None and row2["rows"] == 1

    def test_maybe_rollup_time_trigger_before_first_rollup(self, spark, tmp_path):
        """A low-traffic node whose pending payload never reaches
        min_rollup_size must still roll up once rollup_max_interval has
        passed since the data first appeared — even with no manifest row
        to anchor the interval (the first-pending time anchors it)."""
        store = DocStore(spark, str(tmp_path / "wpol2"))
        db = store.create_database(ALICE, nonce=1)
        store.create_collection(db, "c", [], ALICE)
        store.add_docs(db, "c", ['{"v": 1}'], ALICE)
        store.state.next_block()

        ex = RollupExecutor(spark, str(tmp_path / "wpol2"))
        big = {"min_rollup_size": 10_000_000, "rollup_max_interval": 10_000}
        t0 = 1_000_000
        assert ex.maybe_rollup(store.mutation_log(), big,
                               open_block=store.state.block, now_ms=t0) is None
        assert ex.maybe_rollup(store.mutation_log(), big,
                               open_block=store.state.block,
                               now_ms=t0 + 5_000) is None
        row = ex.maybe_rollup(store.mutation_log(), big,
                              open_block=store.state.block,
                              now_ms=t0 + 10_000)
        assert row is not None and row["rows"] == 3

    def test_gc_and_rollup_record_scans(self, spark, tmp_path, monkeypatch):
        """ScanGcRecord / ScanRollupRecord / GetBlock round out the
        StorageNode record surface (db3_storage.proto:146-153,198)."""
        import rtstore_spark.store.docstore as ds

        monkeypatch.setattr(ds, "LOG_BLOCKS_PER_BUCKET", 1)
        store = DocStore(spark, str(tmp_path / "wrec"))
        db = store.create_database(ALICE, nonce=1)
        store.create_collection(db, "c", [], ALICE)
        store.state.next_block()
        store.add_docs(db, "c", ['{"v": 1}'], ALICE)
        store.state.next_block()

        # GetBlock: single-block mutation read (pre-gc, while the log has it)
        blk = store.get_block(1).collect()
        assert [r["action"] for r in blk] == ["add_document"]

        ex = RollupExecutor(spark, str(tmp_path / "wrec"))
        row = ex.rollup(store.mutation_log(), open_block=store.state.block)
        assert ex.scan_rollup_records().count() == 1

        assert ex.scan_gc_records().count() == 0  # no gc yet
        watermark = ex.gc(store, min_gc_offset=0)
        recs = ex.scan_gc_records().collect()
        assert len(recs) == 1
        assert recs[0]["end_block"] == watermark - 1 == row["end_block"]
        assert recs[0]["data_size"] > 0  # removed payload bytes accounted

    def test_golden_reference_rollup_parquet(self, spark):
        """Round-trip the reference node's own checked-in rollup artifact —
        the one concrete cross-engine compatibility proof available. Mirrors
        parse_sample_ar_parquet_ut (ar_toolbox.rs:435-452): 204 rows, first
        mutation at (block 37829, order 1) with the pinned signature."""
        import os

        golden = "/root/reference/src/node/resources/test/37829_37968.gz.parquet"
        if not os.path.exists(golden):
            import pytest

            pytest.skip("reference golden parquet not available")
        df = RollupExecutor.load_rollup_file(spark, golden)
        assert df.schema == ROLLUP_SCHEMA  # normalized from uint64/uint32
        assert df.count() == 204

        # ordered replay, exactly like read_rollups does for recovery
        first = df.orderBy("block", "order").head(1)[0]
        assert first["block"] == 37829
        assert first["order"] == 1
        assert first["signature"] == (
            "0xf6afe1165ae87fa09375eabccdedc61f3e5af4ed1e5c6456f1b63d3978622526"
            "67e1f13f0f076f30609754f787c80135c52f7c249e95c9b8fab1b9ed27846c1b1c"
        )
        assert first["doc_ids"] is None  # pre-doc_ids 4-column era file
        assert len(first["payload"]) > 0

        # file-name contract <start>_<end>.gz.parquet: start is the first
        # mutation's block; end is the *chain head* at rollup time, so the
        # data's max block only has to fall inside the range (the tail blocks
        # were empty — 37898 < 37968 in the checked-in file).
        from pyspark.sql import functions as F

        bounds = df.agg(
            F.min("block").alias("lo"), F.max("block").alias("hi")
        ).collect()[0]
        assert bounds["lo"] == 37829
        assert 37829 <= bounds["hi"] <= 37968

    def test_empty_rollup_is_noop(self, spark, tmp_path):
        store = DocStore(spark, str(tmp_path / "w2"))
        ex = RollupExecutor(spark, str(tmp_path / "w2"))
        assert ex.rollup(store.mutation_log()) is None

    def test_rollup_excludes_open_block(self, spark, tmp_path, monkeypatch):
        """A mid-block rollup must not cover the still-open block: mutations
        appended to it afterwards would never be rolled up, and gc() would
        then delete them from the log — silent loss from cold storage."""
        import rtstore_spark.store.docstore as ds

        monkeypatch.setattr(ds, "LOG_BLOCKS_PER_BUCKET", 1)
        store = DocStore(spark, str(tmp_path / "w3"))
        db = store.create_database(ALICE, nonce=1)
        store.create_collection(db, "c", [], ALICE)
        store.state.next_block()
        store.add_docs(db, "c", ['{"v": 1}'], ALICE)

        ex = RollupExecutor(spark, str(tmp_path / "w3"))
        # rollup mid-block: block 1 is open, its row must be excluded
        row = ex.rollup(store.mutation_log(), open_block=store.state.block)
        assert row["end_block"] < store.state.block

        # the open block keeps growing after the rollup...
        store.add_docs(db, "c", ['{"v": 2}'], ALICE)
        store.state.next_block()
        # ...gc keeps everything not yet rolled up (both adds in block 1)
        ex.gc(store, min_gc_offset=0)
        remaining = store.mutation_log()
        assert remaining.count() == 2  # both adds + nothing lost
        # and the next closed-block rollup picks them up
        row2 = ex.rollup(store.mutation_log(), open_block=store.state.block)
        assert row2["rows"] == 2
        assert ex.read_rollups().count() == 2 + 2


class TestStreaming:
    def test_block_event_stream(self, spark, tmp_path):
        store = DocStore(spark, str(tmp_path / "w"))
        db = store.create_database(ALICE, nonce=1)
        store.create_collection(db, "c", [], ALICE)
        store.state.next_block()
        store.add_docs(db, "c", ['{"v": 1}'], ALICE)
        store.add_docs(db, "c", ['{"v": 2}'], ALICE)

        events: list[tuple[int, int]] = []
        stream = BlockEventStream(spark, store)
        stream.start(lambda b, n: events.append((b, n)), once=True)
        # block 0 holds create_db/create_collection, block 1 the two adds
        assert dict(events) == {0: 2, 1: 2}

        # new mutations after the checkpoint → only the delta is delivered
        store.state.next_block()
        store.add_docs(db, "c", ['{"v": 3}'], ALICE)
        events.clear()
        stream.start(lambda b, n: events.append((b, n)), once=True)
        assert dict(events) == {2: 1}

    def test_block_event_overflow_stays_bounded(self, spark, tmp_path):
        """A catch-up trigger spanning 10k tiny blocks must NOT collect 10k
        rows to the driver: past max_events_per_trigger the batch delivers
        one aggregate summary (on_overflow) instead."""
        from pyspark.sql import functions as F

        from rtstore_spark.store.docstore import (
            LOG_BLOCKS_PER_BUCKET,
            LOG_SCHEMA,
        )

        store = DocStore(spark, str(tmp_path / "ovf"))
        # 10k one-mutation blocks, written straight to the log path (the
        # store API would be 10k driver round-trips — exactly the thing the
        # engine avoids; the stream only cares about the log's contents)
        spark.range(10_000).select(
            F.concat(F.lit("m"), F.col("id")).alias("id"),
            F.lit("0xaa").alias("sender"), F.lit(0).cast("long").alias("nonce"),
            F.lit("add_document").alias("action"),
            F.lit("0xdb").alias("db_addr"), F.lit("c").alias("col_name"),
            F.lit("{}").alias("payload"), F.lit("[1]").alias("doc_ids"),
            F.col("id").alias("block"), F.lit(1).cast("int").alias("order"),
        ).withColumn(
            "block_bucket", F.expr(f"block div {LOG_BLOCKS_PER_BUCKET}")
        ).repartition(2).write.mode("append").partitionBy(
            "block_bucket"
        ).parquet(store._log_path())

        events: list[tuple[int, int]] = []
        summaries: list[tuple[int, int, int, int]] = []
        stream = BlockEventStream(
            spark, store, max_events_per_trigger=100,
        )
        stream.start(
            lambda b, n: events.append((b, n)),
            once=True,
            on_overflow=lambda lo, hi, nb, nm: summaries.append((lo, hi, nb, nm)),
        )
        assert events == []  # never fanned out per-block
        assert summaries == [(0, 9_999, 10_000, 10_000)]

        # under the cap (new delta of 2 blocks) → per-block delivery again
        spark.createDataFrame(
            [("mA", "0xaa", 0, "add_document", "0xdb", "c", "{}", "[1]",
              10_000, 1),
             ("mB", "0xaa", 0, "add_document", "0xdb", "c", "{}", "[1]",
              10_001, 1)],
            schema=LOG_SCHEMA,
        ).withColumn(
            "block_bucket", F.expr(f"block div {LOG_BLOCKS_PER_BUCKET}")
        ).coalesce(1).write.mode("append").partitionBy("block_bucket").parquet(
            store._log_path()
        )
        summaries.clear()
        stream.start(
            lambda b, n: events.append((b, n)),
            once=True,
            on_overflow=lambda lo, hi, nb, nm: summaries.append((lo, hi, nb, nm)),
        )
        assert events == [(10_000, 1), (10_001, 1)] and summaries == []

    def test_indexer_tail_streaming_replay(self, spark, tmp_path):
        origin = DocStore(spark, str(tmp_path / "o"))
        db = origin.create_database(ALICE, nonce=1)
        origin.create_collection(db, "c", [], ALICE)
        ids = origin.add_docs(db, "c", ['{"v": 1}', '{"v": 2}'], ALICE)
        origin.update_docs(db, "c", [ids[0]], ['{"v": 9}'], ALICE)

        replica = DocStore(spark, str(tmp_path / "r"))
        tail = IndexerTail(spark, origin, replica)
        tail.run_once()
        o = sorted((r["doc_id"], r["doc"]) for r in origin.current_state(db, "c").collect())
        r = sorted((r["doc_id"], r["doc"]) for r in replica.current_state(db, "c").collect())
        assert o == r

        # incremental: new origin writes, second run_once converges again
        origin.add_docs(db, "c", ['{"v": 3}'], ALICE)
        tail.run_once()
        assert replica.current_state(db, "c").count() == 3


class TestEvmSource:
    def test_event_db_ingestion(self, spark, tmp_path):
        store = DocStore(spark, str(tmp_path / "w"))
        db = store.create_database(
            ALICE, nonce=1, db_type="event",
            meta={"contract": "0xc0ffee", "tables": ["Transfer", "Approval"]},
        )
        fixture = tmp_path / "logs.jsonl"
        logs = [
            {
                "event": "Transfer", "block_number": 10, "tx_hash": "0x01",
                "args": {"from": "0xAB", "to": "0xCD", "value": 2**200},
                "types": {"from": "address", "to": "address", "value": "uint256"},
            },
            {
                "event": "Transfer", "block_number": 11, "tx_hash": "0x02",
                "args": {"from": "0xEF", "to": "0xAB", "value": 7},
                "types": {"from": "address", "to": "address", "value": "uint256"},
            },
            {
                "event": "Approval", "block_number": 11, "tx_hash": "0x03",
                "args": {"ok": True, "ids": [1, 2]},
                "types": {"ok": "bool", "ids": "uint8[]"},
            },
            {"event": "Unknown", "block_number": 12, "tx_hash": "0x04", "args": {}},
        ]
        fixture.write_text("\n".join(json.dumps(x) for x in logs))

        proc = EventProcessor(store, db, ALICE)
        counts = proc.process(JsonlLogSource(str(fixture)))
        assert counts == {"Transfer": 2, "Approval": 1}

        rows, n = store.query_docs(db, "Transfer", "/[from = 0xab]")
        assert n == 1
        doc = json.loads(rows[0]["doc"])
        # uint256 survives as a decimal string (event_processor.rs:223-225)
        assert doc["value"] == str(2**200)
        # bool and arrays intact
        rows2, _ = store.query_docs(db, "Approval", "/*")
        doc2 = json.loads(rows2[0]["doc"])
        assert doc2["ok"] is True and doc2["ids"] == ["1", "2"]

    def test_from_block_filter(self, tmp_path):
        fixture = tmp_path / "l.jsonl"
        fixture.write_text(
            "\n".join(
                json.dumps({"event": "E", "block_number": b, "args": {}})
                for b in (5, 10, 15)
            )
        )
        assert len(list(JsonlLogSource(str(fixture), from_block=10).logs())) == 2
