"""Keep-alive HTTP/JSON client for the node's JSON front, and the answer
checks shared by the workloads."""

from __future__ import annotations

import http.client
import json

from perfbench.shadow import jql


class NodeClient:
    def __init__(self, port: int):
        self.conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)

    def call(self, service: str, method: str, body: dict) -> dict:
        self.conn.request("POST", f"/v1/{service}/{method}", body=json.dumps(body),
                          headers={"Content-Type": "application/json"})
        resp = self.conn.getresponse()
        out = json.loads(resp.read())
        if resp.status != 200:
            out.setdefault("code", resp.status)
        return out

    def send(self, mutation: dict) -> dict:
        return self.call("storage", "SendMutation", {
            "payload": mutation["payload"], "signature": mutation["signature"]})

    def read(self, db: str, col: str, read: dict) -> dict:
        if read["op"] == "GetDoc":
            return self.call("indexer", "GetDoc",
                             {"db_addr": db, "col_name": col, "id": read["id"]})
        return self.call("indexer", "RunQuery", {
            "db_addr": db, "col_name": col,
            "query": {"query_str": jql(read["query"])}})

    def close(self) -> None:
        self.conn.close()


def read_ok(shadow, db: str, col: str, read: dict, answer: dict) -> bool:
    """Does a GetDoc / RunQuery answer equal the shadow's?"""
    if answer.get("code"):
        return False
    if read["op"] == "GetDoc":
        want, got = shadow.get(db, col, read["id"]), answer.get("document")
        if want is None or got is None:
            return want is None and got is None
        return (got["id"] == read["id"] and got["doc"] == want["doc"]
                and str(got["owner"]).lower() == want["owner"])
    ids, count = shadow.query(db, col, read["query"])
    got_ids = [d["id"] for d in answer.get("documents", [])]
    if read["query"]["kind"] == "eq":  # unordered scan: compare as sets
        return answer.get("count") == count and sorted(got_ids) == sorted(ids)
    return answer.get("count") == count and got_ids == ids


def added_ids(ack: dict) -> list[int]:
    return [int(i["value"]) for i in ack.get("items", []) if i["key"] == "document"]
