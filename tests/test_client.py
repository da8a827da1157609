"""SDK-facade acceptance test — mirrors the reference's jest e2e suites
(sdk/tests/query.test.ts, client_v2.test.ts) through the Client surface."""

from __future__ import annotations

import pytest

from rtstore_spark.client import Client
from rtstore_spark.errors import OwnerVerifyFailed

ALICE = "0x" + "aa" * 20
BOB = "0x" + "bb" * 20


@pytest.fixture()
def client(spark, tmp_path):
    return Client(spark, str(tmp_path / "wh"), ALICE)


def test_sdk_e2e_flow(client):
    # create db + collection with index (database_v2.ts flow)
    db = client.createDocumentDatabase("my store")
    client.createCollection(db, "people", [{"path": "/city", "type": "string"}])
    assert client.getDatabase(db)["desc"] == "my store"
    assert client.getCollection(db, "people") is not None

    # addDoc / queryDoc — query.test.ts:122-148 and client_v2.test.ts:185-275
    ids = client.addDoc(db, "people", [
        {"city": "beijing", "age": 10},
        {"city": "beijing2", "age": 20},
    ])
    assert ids == [1, 2]

    res = client.queryDoc(db, "people", "/[city = beijing]")
    assert res.count == 1 and res.docs[0]["doc"]["age"] == 10

    res = client.queryDoc(db, "people", "/* | count")
    assert res.count == 2

    # limit 1 returns the LAST inserted doc (client_v2.test.ts:213-239)
    res = client.queryDoc(db, "people", "/* | limit 1")
    assert res.docs[0]["doc"]["city"] == "beijing2"

    # placeholder query (client_v2.test.ts:241-261)
    res = client.queryDoc(db, "people", "/[age = :age]", params={"age": 20})
    assert res.docs[0]["doc"]["city"] == "beijing2"

    # projection (query.test.ts:130-137)
    res = client.queryDoc(db, "people", "/* | /{city}")
    assert all(set(d["doc"].keys()) == {"city"} for d in res.docs)

    # updateDoc merge-patch preserves other fields
    client.updateDoc(db, "people", ids[0], {"age": 11})
    assert client.getDoc(db, "people", ids[0])["doc"] == {"city": "beijing", "age": 11}

    # deleteDoc
    client.deleteDoc(db, "people", ids[0])
    assert client.getDoc(db, "people", ids[0]) is None
    assert client.queryDoc(db, "people", "/* | count").count == 1

    # addIndex collision + listing (client_v2.test.ts:277-344)
    client.addIndex(db, "people", [{"path": "/age", "type": "int64"}])
    with pytest.raises(Exception):
        client.addIndex(db, "people", [{"path": "/age", "type": "int64"}])


def test_event_db_lifecycle(client):
    db = client.createEventDatabase(
        "evt", "0xc0ffee", ["Transfer"], evm_node_url="ws://x"
    )
    assert client.getDatabase(db)["db_type"] == "event"
    assert [c["col_name"] for c in client.showCollection(db)] == ["Transfer"]
    client.deleteEventDatabase(db)
    assert client.getDatabase(db) is None
    # tombstoned databases hide their collections too
    assert client.showCollection(db) == []


def test_delete_event_db_owner_only(spark, tmp_path):
    alice = Client(spark, str(tmp_path / "wh"), ALICE)
    bob = Client(spark, str(tmp_path / "wh"), BOB)
    db = alice.createEventDatabase("evt", "0xc0ffee", ["T"])
    with pytest.raises(OwnerVerifyFailed):
        bob.deleteEventDatabase(db)


def test_show_database_by_owner(spark, tmp_path):
    alice = Client(spark, str(tmp_path / "wh"), ALICE)
    bob = Client(spark, str(tmp_path / "wh"), BOB)
    alice.createDocumentDatabase("a1")
    bob.createDocumentDatabase("b1")
    assert len(alice.showDatabase(owner=ALICE)) == 1
    assert len(alice.showDatabase()) == 2


def test_checksummed_sender_nonces_advance(spark, tmp_path):
    """A mixed-case (EIP-55 style) sender is one account with its
    lowercase form: the client's next nonce must read the same key the
    store advanced, so a second create does not reuse a nonce."""
    sender = "0x" + "Ab" * 20
    client = Client(spark, str(tmp_path / "wh"), sender)
    first = client.createDocumentDatabase("one")
    second = client.createDocumentDatabase("two")
    assert first != second
    assert client.store.state.nonce_of(sender) == 2
