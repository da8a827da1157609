"""SendMutation ingest-path tests (S1): signature verify, nonce, dispatch."""

from __future__ import annotations

import json

import pytest

from rtstore_spark.errors import BadNonce, InvalidMutation
from rtstore_spark.store import DocStore
from rtstore_spark.store.ingest import Ingest, digest_signature

ALICE = "0x" + "aa" * 20


def signed(payload: dict, sender: str, nonce: int) -> tuple[dict, str]:
    body = json.dumps(payload, sort_keys=True)
    return payload, digest_signature(body, nonce, sender)


@pytest.fixture()
def ingest(spark, tmp_path):
    return Ingest(DocStore(spark, str(tmp_path / "w")))


class TestIngest:
    def test_full_flow(self, ingest):
        p, sig = signed({"action": "create_database", "body": {"desc": "d"}}, ALICE, 1)
        resp = ingest.send_mutation(p, sig, ALICE, 1)
        db = resp["items"][0]["value"]
        assert db.startswith("0x") and resp["id"]

        p, sig = signed(
            {"action": "add_collection", "db_addr": db, "col_name": "c", "body": {}},
            ALICE, 2,
        )
        ingest.send_mutation(p, sig, ALICE, 2)

        p, sig = signed(
            {"action": "add_document", "db_addr": db, "col_name": "c",
             "body": {"docs": ['{"x": 1}', '{"x": 2}']}},
            ALICE, 3,
        )
        resp = ingest.send_mutation(p, sig, ALICE, 3)
        assert [i["value"] for i in resp["items"]] == ["1", "2"]
        assert ingest.get_nonce(ALICE) == 4

        # scan headers newest-first, payload dropped
        headers = ingest.store.scan_mutation_headers(limit=2).collect()
        assert headers[0]["action"] == "add_document"
        assert "payload" not in headers[0].asDict()
        # point lookup by tx id
        mid = headers[0]["id"]
        assert ingest.store.get_mutation(mid)["action"] == "add_document"

    def test_bad_signature_rejected(self, ingest):
        p = {"action": "create_database", "body": {}}
        with pytest.raises(InvalidMutation, match="bad signature"):
            ingest.send_mutation(p, "deadbeef", ALICE, 1)

    def test_signature_binds_nonce_and_sender(self, ingest):
        # a signature computed for nonce 1 cannot be replayed as nonce 2
        p, sig = signed({"action": "create_database", "body": {}}, ALICE, 1)
        with pytest.raises(InvalidMutation):
            ingest.send_mutation(p, sig, ALICE, 2)
        # nor by another sender
        with pytest.raises(InvalidMutation):
            ingest.send_mutation(p, sig, "0x" + "bb" * 20, 1)

    def test_nonce_replay_rejected(self, ingest):
        p, sig = signed({"action": "create_database", "body": {}}, ALICE, 1)
        ingest.send_mutation(p, sig, ALICE, 1)
        with pytest.raises(BadNonce):
            ingest.send_mutation(p, sig, ALICE, 1)

    def test_unknown_action(self, ingest):
        p, sig = signed({"action": "frobnicate"}, ALICE, 1)
        with pytest.raises(InvalidMutation, match="unknown action"):
            ingest.send_mutation(p, sig, ALICE, 1)

    def test_trust_mode(self, spark, tmp_path):
        ing = Ingest(DocStore(spark, str(tmp_path / "t")), sig_mode="none")
        resp = ing.send_mutation(
            {"action": "create_database", "body": {}}, "", ALICE, 1
        )
        assert resp["items"][0]["key"] == "db_addr"

    def test_returned_id_is_the_logged_id(self, ingest):
        """send_mutation's tx id (sha3(payload‖sig), id.rs TxId) must be the
        id the mutation log stores, so GetMutationHeader(resp.id) works."""
        p, sig = signed({"action": "create_database", "body": {"desc": "d"}}, ALICE, 1)
        resp = ingest.send_mutation(p, sig, ALICE, 1)
        row = ingest.store.get_mutation(resp["id"])
        assert row is not None and row["action"] == "create_doc_db"
        assert row["sender"] == ALICE and row["nonce"] == 1

    def test_query_docs_single_pass(self, ingest):
        """query_docs returns the page and the pre-limit matched count of
        one evaluation: ``limit`` caps the query's own ``| limit`` result,
        ``offset`` pages through it, and the count stays the matched
        total."""
        store = ingest.store
        db = store.create_database(ALICE, 1)
        store.create_collection(db, "c", sender=ALICE)
        store.add_docs(db, "c", [f'{{"v": {i}}}' for i in range(10)], ALICE)
        rows, matched = store.query_docs(db, "c", "/[v >= 3] | limit 4")
        assert matched == 7
        # newest first: v 9, 8, 7, 6
        assert [json.loads(r["doc"])["v"] for r in rows] == [9, 8, 7, 6]
        rows, matched = store.query_docs(
            db, "c", "/[v >= 3] | limit 4", offset=1, limit=2
        )
        assert matched == 7
        assert [json.loads(r["doc"])["v"] for r in rows] == [8, 7]
