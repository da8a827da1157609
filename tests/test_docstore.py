"""Document-store tests mirroring the reference's acceptance suite:
db_store_v2.rs:1454-1924 (bootstrap/collection/doc flows), doc_store.rs:315-488
(CRUD + query + merge-patch), client_v2.test.ts:185-712 (CRUD, ownership
negatives, index add), and the doc-id replay contract
(mutation_utils.rs:181-233).
"""

from __future__ import annotations

import json
import sys
import threading

import pytest

from rtstore_spark.errors import (
    BadNonce,
    CollectionAlreadyExists,
    CollectionNotFound,
    DatabaseNotFound,
    IndexAlreadyExists,
    InvalidMutation,
    OwnerVerifyFailed,
)
from rtstore_spark.client import Client
from rtstore_spark.functions.merge_patch import merge_patch
from rtstore_spark.store import DocStore
from rtstore_spark.store.ingest import digest_signature

ALICE = "0x" + "aa" * 20
BOB = "0x" + "bb" * 20


@pytest.fixture()
def store(spark, tmp_path):
    return DocStore(spark, str(tmp_path / "warehouse"))


@pytest.fixture()
def db_col(store):
    db = store.create_database(ALICE, nonce=1, desc="desc")
    store.create_collection(db, "col1", [{"path": "/city", "type": "string"}], ALICE)
    return db, "col1"


class TestCatalog:
    def test_create_database_deterministic_addr(self, store):
        db = store.create_database(ALICE, nonce=1)
        assert db.startswith("0x") and len(db) == 42
        # same (sender, nonce, network) would derive the same address
        from rtstore_spark.store.docstore import derive_db_addr

        assert db == derive_db_addr(ALICE, 1, 1)

    def test_collection_lifecycle(self, store, db_col):
        db, col = db_col
        cols = store.collections(db).collect()
        assert [c["col_name"] for c in cols] == ["col1"]
        with pytest.raises(CollectionAlreadyExists):
            store.create_collection(db, "col1", [], ALICE)
        with pytest.raises(DatabaseNotFound):
            store.create_collection("0x" + "00" * 20, "colx", [], ALICE)
        with pytest.raises(InvalidMutation):
            store.create_collection(db, "x" * 21, [], ALICE)  # name cap = 20

    def test_databases_of_owner(self, store):
        store.create_database(ALICE, nonce=1)
        store.create_database(ALICE, nonce=2)
        store.create_database(BOB, nonce=1)
        assert store.databases_of_owner(ALICE).count() == 2
        assert store.databases_of_owner(BOB).count() == 1

    def test_add_index_and_collision(self, store, db_col):
        db, col = db_col
        store.add_index(db, col, [{"path": "/age", "type": "int64"}], ALICE)
        row = store.collections(db).collect()[0]
        paths = {i["path"] for i in json.loads(row["index_fields"])}
        assert paths == {"/city", "/age"}
        # collision on existing path rejected — db_store_v2.rs:1108-1147
        with pytest.raises(IndexAlreadyExists):
            store.add_index(db, col, [{"path": "/city", "type": "string"}], ALICE)
        # collection-owner-only — client_v2.test.ts:277-344
        with pytest.raises(OwnerVerifyFailed):
            store.add_index(db, col, [{"path": "/zz", "type": "string"}], BOB)

    def test_nonce_guard(self, store):
        store.create_database(ALICE, nonce=5)
        with pytest.raises(BadNonce):
            store.create_database(ALICE, nonce=5)
        with pytest.raises(BadNonce):
            store.create_database(ALICE, nonce=4)
        store.create_database(ALICE, nonce=6)  # strictly increasing ok


class TestCatalogFreshness:
    def test_earlier_instance_sees_other_writers(self, spark, tmp_path):
        """The catalog lives on the driver, revalidated by a file listing:
        an instance opened BEFORE another writer on the same root must see
        every catalog change that writer makes, including across a
        catalog compaction. Each change lands after a lookup has warmed
        the reader's cache, so staleness would show."""
        root = str(tmp_path / "fresh")
        reader = DocStore(spark, root)
        assert reader.databases_latest() == []
        writer = Client(spark, root, ALICE)

        db = writer.createDocumentDatabase("d")
        assert [d["db_addr"] for d in reader.databases_latest()] == [db]
        with pytest.raises(CollectionNotFound):
            reader.get_doc(db, "c", 1)

        writer.createCollection(db, "c")
        reader._require_col(db, "c")
        assert reader.get_doc(db, "c", 1) is None
        assert reader._indexed_paths(db, "c") == []

        writer.addIndex(db, "c", [{"path": "/x", "type": "int64"}])
        assert reader._indexed_paths(db, "c") == [("/x", "int64")]

        writer.deleteEventDatabase(db)
        assert reader.databases_latest() == []

        # a compaction flips the catalog pointers; lookups on both
        # instances stay correct, before and after further writes
        writer.store.compact_catalogs()
        assert reader.databases_latest() == []
        assert reader._indexed_paths(db, "c") == [("/x", "int64")]
        db2 = writer.createDocumentDatabase("d2")
        writer.createCollection(db2, "c2")
        assert [d["db_addr"] for d in reader.databases_latest()] == [db2]
        assert reader.collection_keys() == {(db, "c"), (db2, "c2")}
        reader.compact_catalogs()
        assert writer.store.collection_keys() == {(db, "c"), (db2, "c2")}
        assert [c["col_name"] for c in reader.collections(db2).collect()] == ["c2"]


    def test_concurrent_lookups_never_serve_a_stale_catalog(self, spark, tmp_path):
        """Request threads share one store and its catalog cache. Once a
        create returns, no thread's later lookup may miss it, however the
        threads' reloads interleave."""
        store = DocStore(spark, str(tmp_path / "conc"))
        db = store.create_database(ALICE, nonce=1)
        created: list[tuple[str, str]] = []
        stale: list = []
        stop = threading.Event()

        def reader():
            while not stop.is_set():
                want = set(created)  # taken before the lookup starts
                missing = want - store.collection_keys()
                if missing:
                    stale.append(missing)

        old = sys.getswitchinterval()
        sys.setswitchinterval(1e-5)
        threads = [threading.Thread(target=reader) for _ in range(6)]
        try:
            for t in threads:
                t.start()
            for i in range(6):
                store.create_collection(db, f"c{i}", [], ALICE)
                created.append((db, f"c{i}"))
        finally:
            stop.set()
            for t in threads:
                t.join(timeout=120)
            sys.setswitchinterval(old)
        assert not any(t.is_alive() for t in threads)
        assert stale == []
        assert store.collection_keys() == set(created)


class TestJobCounts:
    def test_point_paths_run_no_catalog_or_window_jobs(self, spark, tmp_path):
        """On a warm store the catalog check runs no Spark job, a point
        get one (the id-filtered collect), and a one-id update or delete
        at most three (the collect plus the version and log appends)."""
        store = DocStore(spark, str(tmp_path / "jobs"))
        db = store.create_database(ALICE, nonce=1)
        store.create_collection(db, "c", [], ALICE)
        ids = store.add_docs(db, "c", ['{"a": 1}', '{"a": 2}'], ALICE)
        sched = spark.sparkContext._jsc.sc().dagScheduler()

        def jobs(fn) -> int:
            before = int(sched.nextJobId())
            fn()
            return int(sched.nextJobId()) - before

        store._require_col(db, "c")  # warm the catalog
        assert jobs(lambda: store._require_col(db, "c")) == 0
        assert jobs(lambda: store.get_doc(db, "c", ids[0])) == 1
        assert jobs(
            lambda: store.update_docs(db, "c", [ids[0]], ['{"b": 1}'], ALICE)
        ) <= 3
        assert jobs(lambda: store.delete_docs(db, "c", [ids[1]], ALICE)) <= 3
        assert json.loads(store.get_doc(db, "c", ids[0])["doc"]) == {"a": 1, "b": 1}
        assert store.get_doc(db, "c", ids[1]) is None

    def test_run_query_jobs(self, spark, tmp_path):
        """RunQuery: a page query counts and collects the matched set in
        at most four jobs; a ``| count`` query is one count, at most two
        jobs (the window's shuffle stage and the count). Those are the
        counts with one shuffle partition, as the node benchmark runs;
        with more, the count's final aggregate is one job more."""
        store = DocStore(spark, str(tmp_path / "qjobs"))
        db = store.create_database(ALICE, nonce=1)
        store.create_collection(db, "c", [], ALICE)
        store.add_docs(db, "c", [json.dumps({"v": i}) for i in range(8)], ALICE)
        store.add_docs(db, "c", ['{"v": 100}'], ALICE)
        sched = spark.sparkContext._jsc.sc().dagScheduler()

        def jobs(fn):
            before = int(sched.nextJobId())
            out = fn()
            return int(sched.nextJobId()) - before, out

        store._require_col(db, "c")  # warm the catalog
        extra = int(int(spark.conf.get("spark.sql.shuffle.partitions")) > 1)
        n, (rows, count) = jobs(
            lambda: store.query_docs(db, "c", "/[v >= 3]", offset=1, limit=3)
        )
        assert n <= 4 + extra, f"page query took {n} jobs"
        assert count == 6 and len(rows) == 3
        n, (rows, count) = jobs(lambda: store.query_docs(db, "c", "/* | count"))
        assert n <= 2 + extra, f"| count took {n} jobs"
        assert rows == [] and count == 9


class TestMergeParity:
    # (stored document, patch): a nested object patch, a null that
    # removes a key, non-object patch values (inside an object and as the
    # whole patch), and a patch to a document whose body is not an object
    CASES = [
        ('{"a": {"b": 1, "c": {"d": 2}}, "k": 1}', '{"a": {"c": {"e": 3}, "b": 9}}'),
        ('{"a": 1, "b": 2}', '{"b": null, "c": "x"}'),
        ('{"a": {"b": 1}}', '{"a": [1, {"z": null}], "n": 1.5}'),
        ('{"a": 1}', '[3, "x"]'),
        ('[1, 2]', '{"a": {"b": null, "c": 1}}'),
        ('"text"', '{"é": "ü"}'),
    ]

    def test_driver_merge_matches_batch_udf(self, spark, tmp_path):
        """A single update merges on the driver; a set-wise block merges in
        the Spark UDF. Both must store byte-identical document text."""
        from rtstore_spark.store.batch_apply import BatchApplier
        from rtstore_spark.store.ingest import Ingest

        docs = [d for d, _ in self.CASES]
        patches = [p for _, p in self.CASES]
        stores = {}
        for name in ("driver", "batch"):
            s = DocStore(spark, str(tmp_path / name))
            db = s.create_database(ALICE, nonce=1)
            s.create_collection(db, "c", [], ALICE)
            ids = s.add_docs(db, "c", docs, ALICE)
            stores[name] = s

        stores["driver"].update_docs(db, "c", ids, patches, ALICE)

        body = json.dumps({
            "action": "update_document", "db_addr": db, "col_name": "c",
            "body": {"ids": ids, "patches": patches},
        }, sort_keys=True)
        env = {"payload": body, "signature": digest_signature(body, 2, ALICE),
               "sender": ALICE, "nonce": 2}
        staged = str(tmp_path / "envs.parquet")
        spark.createDataFrame([env]).write.parquet(staged)
        batch = stores["batch"]
        assert BatchApplier(Ingest(batch)).apply(spark.read.parquet(staged)) == []

        got = {
            name: {r["doc_id"]: r["doc"] for r in s.current_state(db, "c").collect()}
            for name, s in stores.items()
        }
        assert got["driver"] == got["batch"]
        assert len(got["driver"]) == len(self.CASES)


class TestBlockApplyAutoCompaction:
    def test_block_with_compacting_appends_logs_every_mutation(self, spark, tmp_path):
        """A block's update and delete, with auto-compaction after every
        append: the compacted state holds both, and the log holds both
        mutations. The block's log rows re-read the state the checks saw,
        not the state after its own tombstones."""
        from rtstore_spark.store.batch_apply import BatchApplier
        from rtstore_spark.store.ingest import Ingest

        store = DocStore(spark, str(tmp_path / "ac"), auto_compact_every=1,
                         auto_compact_max_files=0)
        db = store.create_database(ALICE, nonce=1)
        store.create_collection(db, "c", [], ALICE)
        ids = store.add_docs(db, "c", ['{"v": 1}', '{"v": 2}', '{"v": 3}'], ALICE)
        envs = []
        for nonce, body in (
            (2, {"ids": [ids[0]], "patches": ['{"v": 10}']}),
            (3, {"ids": [ids[1]]}),
        ):
            payload = json.dumps({
                "action": "update_document" if "patches" in body else "delete_document",
                "db_addr": db, "col_name": "c", "body": body,
            }, sort_keys=True)
            envs.append({"payload": payload, "sender": ALICE, "nonce": nonce,
                         "signature": digest_signature(payload, nonce, ALICE)})
        staged = str(tmp_path / "envs.parquet")
        spark.createDataFrame(envs).coalesce(1).write.parquet(staged)
        assert BatchApplier(Ingest(store)).apply(spark.read.parquet(staged)) == []
        state = {r["doc_id"]: json.loads(r["doc"])["v"]
                 for r in store.current_state(db, "c").collect()}
        assert state == {ids[0]: 10, ids[2]: 3}
        logged = {r["action"] for r in store.mutation_log().collect()}
        assert {"update_document", "delete_document"} <= logged


class TestDocumentCRUD:
    def test_add_docs_sequential_ids(self, store, db_col):
        db, col = db_col
        ids = store.add_docs(db, col, ['{"city": "beijing"}', '{"city": "x"}'], ALICE)
        assert ids == [1, 2]
        ids2 = store.add_docs(db, col, ['{"city": "y"}'], ALICE)
        assert ids2 == [3]

    def test_get_doc(self, store, db_col):
        db, col = db_col
        (i,) = store.add_docs(db, col, ['{"city": "beijing"}'], ALICE)
        row = store.get_doc(db, col, i)
        assert json.loads(row["doc"]) == {"city": "beijing"}
        assert row["owner"] == ALICE
        assert store.get_doc(db, col, 999) is None

    def test_query_docs_with_count(self, store, db_col):
        db, col = db_col
        store.add_docs(db, col, ['{"city": "beijing", "age": 10}'], ALICE)
        store.add_docs(db, col, ['{"city": "beijing2", "age": 20}'], ALICE)
        rows, count = store.query_docs(db, col, "/[city = beijing]")
        assert count == 1
        assert json.loads(rows[0]["doc"])["city"] == "beijing"
        # count reflects matched set pre-limit (doc_store.rs:208-213)
        rows, count2 = store.query_docs(db, col, "/* | limit 1")
        assert count2 == 2 and len(rows) == 1
        # newest-first: limit 1 yields the LAST insert (client_v2.test.ts:213-239)
        assert json.loads(rows[0]["doc"])["city"] == "beijing2"

    def test_point_get_prunes_doc_buckets(self, spark, tmp_path, monkeypatch):
        """S6 point gets must prune partition directories via doc_bucket —
        the directory-level analog of the reference's /doc/‖db‖id key
        layout (db_doc_key_v2.rs:24-40). A flat directory would scan every
        file of the collection for one id."""
        import rtstore_spark.store.docstore as ds

        monkeypatch.setattr(ds, "DOC_IDS_PER_BUCKET", 10)
        store = DocStore(spark, str(tmp_path / "wbuck"))
        db = store.create_database(ALICE, nonce=1)
        store.create_collection(db, "c", [], ALICE)
        ids = store.add_docs(
            db, "c", [json.dumps({"v": i}) for i in range(35)], ALICE
        )
        import os

        buckets = sorted(
            d for d in os.listdir(store._data_path(db, "c"))
            if d.startswith("doc_bucket=")
        )
        assert len(buckets) == 4  # 35 docs / 10 per bucket

        target = ids[25]

        def read_dirs():
            return {
                os.path.basename(os.path.dirname(f))
                for f in store._id_versions(db, "c", [target]).inputFiles()
            }

        assert read_dirs() == {f"doc_bucket={target // 10}"}
        row = store.get_doc(db, "c", target)
        assert json.loads(row["doc"]) == {"v": 25}

        # compaction preserves the bucket layout and the pruned lookup
        store.compact(db, "c")
        buckets = sorted(
            d for d in os.listdir(store._data_path(db, "c"))
            if d.startswith("doc_bucket=")
        )
        assert len(buckets) == 4
        assert read_dirs() == {f"doc_bucket={target // 10}"}
        row = store.get_doc(db, "c", target)
        assert json.loads(row["doc"]) == {"v": 25}

    def test_mixed_flat_and_bucketed_layout_reads_both(self, spark, tmp_path):
        """A collection written by the pre-bucketing code (flat root
        parquet files) must keep its documents visible after the bucketed
        writers append: Spark's partition discovery silently drops
        root-level files once doc_bucket= directories exist, so the reader
        unions the legacy files explicitly."""
        from pyspark.sql import functions as F

        from rtstore_spark.store.docstore import DOC_SCHEMA

        store = DocStore(spark, str(tmp_path / "wmix"))
        db = store.create_database(ALICE, nonce=1)
        store.create_collection(db, "c", [], ALICE)
        # legacy flat-layout row, as the pre-bucketing writer laid it out
        legacy = [{"doc_id": 7, "owner": ALICE, "doc": '{"v": "legacy"}',
                   "op": "A", "block": 0, "order": 1}]
        spark.createDataFrame(legacy, schema=DOC_SCHEMA).coalesce(
            1
        ).write.mode("append").parquet(store._data_path(db, "c"))
        store.state.observe_doc_ids(db, [7])
        # bucketed append via the current writer
        (new_id,) = store.add_docs(db, "c", ['{"v": "new"}'], ALICE)

        state = {r["doc_id"]: json.loads(r["doc"])["v"]
                 for r in store.current_state(db, "c").collect()}
        assert state == {7: "legacy", new_id: "new"}
        # the pruned point-get path must also see the legacy row
        assert json.loads(store.get_doc(db, "c", 7)["doc"])["v"] == "legacy"
        # ... and legacy docs stay updatable (ownership check reads them)
        store.update_docs(db, "c", [7], ['{"u": 1}'], ALICE)
        assert json.loads(store.get_doc(db, "c", 7)["doc"])["u"] == 1

    def test_query_cache_bounded(self, spark, store, db_col):
        """RunQuery keeps nothing cached once it returns, and what it
        returned does not move: a held (rows, count) is unchanged by a
        later append, while a fresh query sees the append."""
        db, col = db_col
        store.add_docs(db, col, ['{"city": "cached"}'], ALICE)
        # only this test's entries: other modules may hold caches of
        # their own in the shared session
        cached = spark.sparkContext._jsc.getPersistentRDDs
        before = set(cached().keySet())
        for _ in range(3):
            rows, count = store.query_docs(db, col, "/[city = cached]")
            assert set(cached().keySet()) == before
        store.add_docs(db, col, ['{"city": "cached"}'], ALICE)
        assert count == 1 and len(rows) == 1
        rows2, n = store.query_docs(db, col, "/[city = cached]")
        assert n == 2 and len(rows2) == 2
        assert set(cached().keySet()) == before

    def test_update_merge_patch_preserves_fields(self, store, db_col):
        # EJDB2 patch semantics: doc_store.rs:470-480 — patching
        # {"test":"v1","f1":"f1"} with {"test":"v2"} preserves f1.
        db, col = db_col
        (i,) = store.add_docs(db, col, ['{"test": "v1", "f1": "f1"}'], ALICE)
        store.update_docs(db, col, [i], ['{"test": "v2"}'], ALICE)
        doc = json.loads(store.get_doc(db, col, i)["doc"])
        assert doc == {"test": "v2", "f1": "f1"}

    def test_update_null_deletes_key_rfc7386(self, store, db_col):
        db, col = db_col
        (i,) = store.add_docs(db, col, ['{"a": 1, "b": 2}'], ALICE)
        store.update_docs(db, col, [i], ['{"b": null, "c": 3}'], ALICE)
        doc = json.loads(store.get_doc(db, col, i)["doc"])
        assert doc == {"a": 1, "c": 3}

    def test_update_requires_alignment(self, store, db_col):
        db, col = db_col
        ids = store.add_docs(db, col, ['{"a": 1}'], ALICE)
        with pytest.raises(InvalidMutation):
            store.update_docs(db, col, ids, [], ALICE)

    def test_ownership_verification(self, store, db_col):
        # owner-only update/delete — client_v2.test.ts:344-712 negatives
        db, col = db_col
        ids = store.add_docs(db, col, ['{"a": 1}'], ALICE)
        with pytest.raises(OwnerVerifyFailed):
            store.update_docs(db, col, ids, ['{"a": 2}'], BOB)
        with pytest.raises(OwnerVerifyFailed):
            store.delete_docs(db, col, ids, BOB)
        # still intact
        assert json.loads(store.get_doc(db, col, ids[0])["doc"]) == {"a": 1}

    def test_delete_docs(self, store, db_col):
        db, col = db_col
        ids = store.add_docs(db, col, ['{"a": 1}', '{"a": 2}'], ALICE)
        store.delete_docs(db, col, [ids[0]], ALICE)
        assert store.get_doc(db, col, ids[0]) is None
        assert store.current_state(db, col).count() == 1
        _, count = store.query_docs(db, col, "/*")
        assert count == 1

    def test_delete_missing_doc(self, store, db_col):
        db, col = db_col
        with pytest.raises(InvalidMutation):
            store.delete_docs(db, col, [404], ALICE)

    def test_unknown_collection(self, store, db_col):
        db, _ = db_col
        with pytest.raises(CollectionNotFound):
            store.add_docs(db, "nope", ['{"a":1}'], ALICE)

    def test_invalid_json_rejected(self, store, db_col):
        db, col = db_col
        with pytest.raises(Exception):
            store.add_docs(db, col, ["not json"], ALICE)

    def test_compaction_preserves_state(self, store, db_col):
        db, col = db_col
        ids = store.add_docs(db, col, ['{"a": 1}', '{"a": 2}', '{"a": 3}'], ALICE)
        store.update_docs(db, col, [ids[0]], ['{"a": 10}'], ALICE)
        store.delete_docs(db, col, [ids[2]], ALICE)
        before = sorted(
            (r["doc_id"], r["doc"]) for r in store.current_state(db, col).collect()
        )
        store.compact(db, col)
        after = sorted(
            (r["doc_id"], r["doc"]) for r in store.current_state(db, col).collect()
        )
        assert before == after
        # more writes after compaction still work
        store.add_docs(db, col, ['{"a": 4}'], ALICE)
        assert store.current_state(db, col).count() == 3

    def test_compaction_sorts_by_registered_index(self, spark, tmp_path):
        """M8 indexes become physical layout: compact sorts rows by the
        indexed JSON path (then doc_id), so parquet row-group stats prune
        filters on that field — the Spark analog of an EJDB2 secondary
        index."""
        import glob

        import pyarrow.parquet as pq

        store = DocStore(spark, str(tmp_path / "widx"))
        db = store.create_database(ALICE, nonce=1)
        store.create_collection(db, "c", [], ALICE)
        store.add_index(db, "c", [{"path": "/age", "type": "int64"}], ALICE)
        ages = [50, 10, 5, 40, 20, 30, 7]  # single + double digits: a
        # string-wise sort would give 10 < 5 — the int64 cast must win
        store.add_docs(
            db, "c", [json.dumps({"age": a}) for a in ages], ALICE
        )
        store.compact(db, "c")
        files = sorted(
            glob.glob(
                # the live generation: the pre-compaction files stay in the
                # root as the grace-window predecessor
                store._data_path(db, "c") + "/**/*.parquet",
                recursive=True,
            )
        )
        rows = []
        for f in files:
            rows += pq.read_table(f, columns=["doc"]).to_pylist()
        got = [json.loads(r["doc"])["age"] for r in rows]
        assert got == sorted(ages)  # physical order = index order


class TestHeldState:
    """``current_state`` keeps the file listing it was built from — the
    contract the block applier, replay and RunQuery build on."""

    @pytest.mark.parametrize("uri", [False, True], ids=["local", "file_uri"])
    def test_held_frame_ignores_later_appends(self, spark, tmp_path, uri):
        root = str(tmp_path / "held")
        store = DocStore(spark, "file://" + root if uri else root)
        db = store.create_database(ALICE, nonce=1)
        store.create_collection(db, "c", [], ALICE)
        store.add_docs(db, "c", ['{"v": 1}', '{"v": 2}', '{"v": 3}'], ALICE)
        held = store.current_state(db, "c")

        def ids(df):
            return sorted(r["doc_id"] for r in df.collect())

        assert ids(held) == [1, 2, 3]
        store.add_docs(db, "c", ['{"v": 4}'], ALICE)
        store.delete_docs(db, "c", [1], ALICE)
        assert ids(held) == [1, 2, 3]
        assert ids(store.current_state(db, "c")) == [2, 3, 4]

    def test_persisted_frame_ignores_append_from_another_thread(
        self, spark, tmp_path
    ):
        """Spark re-lists a persisted frame's roots when a write lands
        beneath them; the roots are files, so the re-listed frame keeps
        its rows, and so does an unpersisted frame over the same files."""
        store = DocStore(spark, str(tmp_path / "persisted"))
        db = store.create_database(ALICE, nonce=1)
        store.create_collection(db, "c", [], ALICE)
        store.add_docs(db, "c", ['{"v": 1}', '{"v": 2}'], ALICE)
        held = store.current_state(db, "c").persist()
        try:
            assert held.count() == 2
            writer = threading.Thread(
                target=store.add_docs, args=(db, "c", ['{"v": 3}'], ALICE)
            )
            writer.start()
            writer.join()
            assert held.count() == 2
            assert sorted(r["doc_id"] for r in held.collect()) == [1, 2]
        finally:
            held.unpersist()
        assert store.current_state(db, "c").count() == 3

    def test_run_query_count_and_page_agree_across_an_append(
        self, spark, tmp_path, monkeypatch
    ):
        """An append from another thread that lands between RunQuery's
        count and its page reaches neither."""
        from rtstore_spark.jql import compiler

        store = DocStore(spark, str(tmp_path / "straddle"))
        db = store.create_database(ALICE, nonce=1)
        store.create_collection(db, "c", [], ALICE)
        store.add_docs(db, "c", ['{"v": 1}', '{"v": 2}'], ALICE)
        real = compiler.apply_stages

        def append_then_stage(*args, **kwargs):
            writer = threading.Thread(
                target=store.add_docs, args=(db, "c", ['{"v": 3}'], ALICE)
            )
            writer.start()
            writer.join()
            return real(*args, **kwargs)

        monkeypatch.setattr(compiler, "apply_stages", append_then_stage)
        rows, count = store.query_docs(db, "c", "/[v > 0]", limit=10)
        assert count == 2 and len(rows) == 2
        monkeypatch.setattr(compiler, "apply_stages", real)
        assert store.query_docs(db, "c", "/[v > 0]", limit=10)[1] == 3

    def test_held_frame_survives_first_compaction(self, spark, tmp_path):
        """Before its first compaction a collection's live table is its
        root; that rewrite keeps the root-level files as the predecessor
        generation, so a frame read before it still finds its files. The
        second compaction retires them."""
        store = DocStore(spark, str(tmp_path / "grace"))
        db = store.create_database(ALICE, nonce=1)
        store.create_collection(db, "c", [], ALICE)
        store.add_docs(db, "c", ['{"v": 1}', '{"v": 2}'], ALICE)
        store.delete_docs(db, "c", [1], ALICE)
        held = store.current_state(db, "c")
        store.compact(db, "c")
        assert [r["doc_id"] for r in held.collect()] == [2]
        store.add_docs(db, "c", ['{"v": 3}'], ALICE)
        store.compact(db, "c")
        root = store._data_root(db, "c")
        assert all(n.startswith(("gen-", "_")) for n in store.fs.listdir(root))
        assert sorted(
            r["doc_id"] for r in store.current_state(db, "c").collect()
        ) == [2, 3]


class TestReplay:
    def test_replica_replays_identically(self, spark, tmp_path):
        """S12/S13: a replica replaying the mutation log converges to the
        same doc ids and document state (the doc_ids_map contract)."""
        origin = DocStore(spark, str(tmp_path / "origin"))
        db = origin.create_database(ALICE, nonce=1)
        origin.create_collection(db, "c", [], ALICE)
        ids = origin.add_docs(db, "c", ['{"v": 1}', '{"v": 2}'], ALICE)
        origin.state.next_block()
        origin.update_docs(db, "c", [ids[0]], ['{"v": 10, "w": 5}'], ALICE)
        origin.add_docs(db, "c", ['{"v": 3}'], ALICE)
        origin.delete_docs(db, "c", [ids[1]], ALICE)

        replica = DocStore(spark, str(tmp_path / "replica"))
        replica.replay_from(origin)

        o = sorted(
            (r["doc_id"], r["doc"], r["owner"])
            for r in origin.current_state(db, "c").collect()
        )
        r = sorted(
            (r["doc_id"], r["doc"], r["owner"])
            for r in replica.current_state(db, "c").collect()
        )
        assert o == r and len(o) == 2
        # doc-id counters line up for future writes
        assert replica.state.take_doc_ids(db, 1) == origin.state.take_doc_ids(db, 1)

    def test_range_scan_partition_pruning(self, spark, tmp_path):
        """Block-range scans must prune log partition directories."""
        s = DocStore(spark, str(tmp_path / "pp"))
        db = s.create_database(ALICE, nonce=1)
        s.create_collection(db, "c", [], ALICE)
        s.add_docs(db, "c", ['{"v": 1}'], ALICE)
        plan = (
            s.get_range_mutations(0, 1)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "PartitionFilters: [isnotnull(block_bucket" in plan

    def test_block_range_scan(self, spark, tmp_path):
        origin = DocStore(spark, str(tmp_path / "o2"))
        db = origin.create_database(ALICE, nonce=1)
        origin.create_collection(db, "c", [], ALICE)
        origin.state.next_block()  # block 1
        origin.add_docs(db, "c", ['{"v": 1}'], ALICE)
        origin.state.next_block()  # block 2
        origin.add_docs(db, "c", ['{"v": 2}'], ALICE)
        muts = origin.get_range_mutations(1, 2).collect()
        assert len(muts) == 1 and muts[0]["action"] == "add_document"


class TestMergePatchUnit:
    def test_rfc7386_cases(self):
        # RFC 7386 appendix-style cases
        assert merge_patch({"a": "b"}, {"a": "c"}) == {"a": "c"}
        assert merge_patch({"a": "b"}, {"b": "c"}) == {"a": "b", "b": "c"}
        assert merge_patch({"a": "b"}, {"a": None}) == {}
        assert merge_patch({"a": {"b": "c"}}, {"a": {"b": "d", "c": None}}) == {
            "a": {"b": "d"}
        }
        assert merge_patch({"a": [1, 2]}, {"a": [3]}) == {"a": [3]}
        assert merge_patch({"a": "b"}, ["replaced"]) == ["replaced"]
        assert merge_patch(None, {"a": 1}) == {"a": 1}


class TestZOrderCompaction:
    def test_two_numeric_indexes_interleave(self, spark, tmp_path):
        """With two numeric indexes registered, compact() lays rows out in
        Z-order (bit-interleaved range-normalized ranks) — not a chained
        sort, which would cluster only the leading column. Physical row
        order must equal the independently-computed Morton order."""
        import glob

        import pyarrow.parquet as pq

        store = DocStore(spark, str(tmp_path / "wz"))
        db = store.create_database(ALICE, nonce=1)
        store.create_collection(db, "c", [], ALICE)
        store.add_index(
            db, "c",
            [{"path": "/x", "type": "int64"}, {"path": "/y", "type": "int64"}],
            ALICE,
        )
        pts = [(x, y) for x in range(4) for y in range(4)]
        store.add_docs(
            db, "c", [json.dumps({"x": x, "y": y}) for x, y in pts], ALICE
        )
        store.compact(db, "c")

        def z(x, y):  # same normalization: min 0, max 3, 16-bit ranks
            rx, ry = x * 65535 // 3, y * 65535 // 3
            v = 0
            for b in range(16):
                v |= ((rx >> b) & 1) << (2 * b)
                v |= ((ry >> b) & 1) << (2 * b + 1)
            return v

        files = sorted(
            glob.glob(store._data_path(db, "c") + "/**/*.parquet", recursive=True)
        )
        rows = []
        for f in files:
            rows += pq.read_table(f, columns=["doc"]).to_pylist()
        got = [(json.loads(r["doc"])["x"], json.loads(r["doc"])["y"]) for r in rows]
        assert got == sorted(pts, key=lambda p: z(*p))
        # a chained sort would have produced plain (x, y) order — require
        # the interleave to actually differ from it
        assert got != sorted(pts)

    def test_mixed_index_types_keep_chained_sort(self, spark, tmp_path):
        """A string index among the registered paths falls back to the
        lexicographic chain (Z-order needs numeric ranks)."""
        store = DocStore(spark, str(tmp_path / "wzm"))
        db = store.create_database(ALICE, nonce=1)
        store.create_collection(db, "c", [], ALICE)
        store.add_index(
            db, "c",
            [{"path": "/x", "type": "int64"}, {"path": "/s", "type": "string"}],
            ALICE,
        )
        store.add_docs(
            db, "c",
            [json.dumps({"x": v, "s": f"s{v}"}) for v in (50, 10, 5, 40)],
            ALICE,
        )
        store.compact(db, "c")
        rows = [
            json.loads(r["doc"])["x"]
            for r in store.current_state(db, "c")
            .orderBy("doc_id").collect()
        ]
        assert sorted(rows) == [5, 10, 40, 50]  # state intact either way


class TestZOrderManyColumns:
    def test_four_numeric_indexes_stay_in_sign_safe_bits(self, spark, tmp_path):
        """With 4 numeric indexes, 16 bits/column would place bits at
        position 63 (the long's sign — inverting the sort) and beyond
        (wrapping via JVM shift masking). The per-column width must drop
        to 63//k so the interleave stays a valid non-negative Morton
        order."""
        import glob

        import pyarrow.parquet as pq

        store = DocStore(spark, str(tmp_path / "wz4"))
        db = store.create_database(ALICE, nonce=1)
        store.create_collection(db, "c", [], ALICE)
        store.add_index(
            db, "c",
            [{"path": f"/{c}", "type": "int64"} for c in "wxyz"],
            ALICE,
        )
        pts = [
            (w, x, y, z)
            for w in range(2) for x in range(2) for y in range(2) for z in range(2)
        ]
        store.add_docs(
            db, "c",
            [json.dumps(dict(zip("wxyz", p))) for p in pts],
            ALICE,
        )
        store.compact(db, "c")

        def zval(p):  # eb = min(16, 63//4) = 15 bits per column
            scale = (1 << 15) - 1
            ranks = [v * scale // 1 for v in p]  # min 0, max 1
            out = 0
            for i, r in enumerate(ranks):
                for b in range(15):
                    out |= ((r >> b) & 1) << (b * 4 + i)
            return out

        assert all(zval(p) >= 0 for p in pts)
        files = sorted(
            glob.glob(store._data_path(db, "c") + "/**/*.parquet", recursive=True)
        )
        rows = []
        for f in files:
            rows += pq.read_table(f, columns=["doc"]).to_pylist()
        got = [tuple(json.loads(r["doc"])[c] for c in "wxyz") for r in rows]
        assert got == sorted(pts, key=zval)
