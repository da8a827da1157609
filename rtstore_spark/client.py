"""Client facade — the reference SDK's surface on the Spark engine.

Method names mirror sdk/src/store/database_v2.ts and document_v2.ts
(createDocumentDatabase, createCollection, addDoc, updateDoc, deleteDoc,
getDoc, queryDoc, showDatabase, showCollection, addIndex,
createEventDatabase, deleteEventDatabase), so a user of the reference can
switch with a session object swap. Nonce management is automatic, like the
SDK's account state (document_v2.ts:261-268).
"""

from __future__ import annotations

import json
from dataclasses import dataclass

from pyspark.sql import SparkSession

from rtstore_spark.errors import DatabaseNotFound
from rtstore_spark.store.docstore import DocStore


@dataclass
class QueryResult:
    docs: list[dict]          # [{id, doc(parsed json), owner}]
    count: int                # matched count, pre-limit


class Client:
    def __init__(self, spark: SparkSession, warehouse: str, sender: str):
        self.store = DocStore(spark, warehouse)
        self.sender = sender

    def _next_nonce(self) -> int:
        return self.store.state.nonce_of(self.sender) + 1

    # -- databases --

    def createDocumentDatabase(self, desc: str = "") -> str:
        return self.store.create_database(self.sender, self._next_nonce(), desc=desc)

    def createEventDatabase(
        self, desc: str, contract_address: str, tables: list[str],
        ttl: int = 0, evm_node_url: str = "", start_block: int = 0,
    ) -> str:
        meta = {
            "contract_address": contract_address, "tables": tables, "ttl": ttl,
            "evm_node_url": evm_node_url, "start_block": start_block,
        }
        return self.store.create_database(
            self.sender, self._next_nonce(), desc=desc, db_type="event", meta=meta
        )

    def deleteEventDatabase(self, db_addr: str) -> None:
        """M6: owner-only unregister (db_store_v2.rs:981-1032). The catalog
        row is tombstoned by a delete marker; collections become invisible."""
        from pyspark.sql import functions as F

        rows = self.store.databases().filter(F.col("db_addr") == db_addr).collect()
        if not rows:
            raise DatabaseNotFound(db_addr)
        from rtstore_spark.errors import OwnerVerifyFailed

        if rows[0]["sender"] != self.sender:
            raise OwnerVerifyFailed(f"{db_addr} not owned by {self.sender}")
        self.store.tombstone_database(
            db_addr, self.sender, *self.store.state.next_order()
        )

    def showDatabase(self, owner: str | None = None) -> list[dict]:
        rows = self.store.databases_latest()
        if owner:
            rows = [r for r in rows if r["sender"] == owner]
        return rows

    def getDatabase(self, db_addr: str) -> dict | None:
        rows = [d for d in self.showDatabase() if d["db_addr"] == db_addr]
        return rows[0] if rows else None

    # -- collections --

    def createCollection(self, db_addr: str, name: str, indexes: list[dict] | None = None):
        self.store.create_collection(
            db_addr, name, indexes or [], self.sender, nonce=self._next_nonce()
        )

    def showCollection(self, db_addr: str) -> list[dict]:
        # tombstoned databases hide their collections ('collections become
        # invisible' — db_store_v2.rs:981-1032)
        if self.getDatabase(db_addr) is None:
            return []
        return [r.asDict() for r in self.store.collections(db_addr).collect()]

    def getCollection(self, db_addr: str, name: str) -> dict | None:
        rows = [c for c in self.showCollection(db_addr) if c["col_name"] == name]
        return rows[0] if rows else None

    def addIndex(self, db_addr: str, col_name: str, indexes: list[dict]) -> None:
        self.store.add_index(db_addr, col_name, indexes, self.sender)

    # -- documents --

    def addDoc(self, db_addr: str, col_name: str, docs: list[dict] | dict) -> list[int]:
        if isinstance(docs, dict):
            docs = [docs]
        return self.store.add_docs(
            db_addr, col_name, [json.dumps(d, sort_keys=True) for d in docs],
            self.sender, nonce=self._next_nonce(),
        )

    def updateDoc(self, db_addr: str, col_name: str, doc_id: int, patch: dict) -> None:
        self.store.update_docs(
            db_addr, col_name, [doc_id], [json.dumps(patch, sort_keys=True)],
            self.sender, nonce=self._next_nonce(),
        )

    def deleteDoc(self, db_addr: str, col_name: str, doc_ids: list[int] | int) -> None:
        if isinstance(doc_ids, int):
            doc_ids = [doc_ids]
        self.store.delete_docs(
            db_addr, col_name, doc_ids, self.sender, nonce=self._next_nonce()
        )

    def getDoc(self, db_addr: str, col_name: str, doc_id: int) -> dict | None:
        row = self.store.get_doc(db_addr, col_name, doc_id)
        if row is None:
            return None
        return {"id": row["doc_id"], "doc": json.loads(row["doc"]), "owner": row["owner"]}

    def queryDoc(
        self, db_addr: str, col_name: str, query: str, params=None
    ) -> QueryResult:
        """RunQuery: JQL string + optional parameters → (docs, count), docs
        parsed like the SDK does (document_v2.ts:37-42)."""
        # `| count` returns the count and zero documents
        # (doc_store.rs:398-411, query.test.ts:122-128)
        rows, count = self.store.query_docs(db_addr, col_name, query, params=params)
        docs = [
            {"id": r["doc_id"], "doc": json.loads(r["doc"]) if r["doc"] else None,
             "owner": r["owner"] if "owner" in r.__fields__ else None}
            for r in rows
        ]
        return QueryResult(docs=docs, count=count)
