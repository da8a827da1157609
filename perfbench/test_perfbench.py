"""Tests for the benchmark's generator and oracle.

    python -m pytest perfbench/test_perfbench.py -q

The last test starts a local Spark session (about a minute).
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import gen, probes  # noqa: E402
from perfbench.client import added_ids, read_ok  # noqa: E402
from perfbench.log_pipeline import expected_state  # noqa: E402
from perfbench.shadow import Shadow, jql, merge_patch, store_digest  # noqa: E402


def test_same_seed_gives_byte_identical_inputs():
    assert gen.to_bytes(gen.serve_mixed_inputs(7, 10)) == gen.to_bytes(gen.serve_mixed_inputs(7, 10))
    a = gen.to_bytes(gen.log_pipeline_inputs(7, 1))
    assert a == gen.to_bytes(gen.log_pipeline_inputs(7, 1))
    assert a != gen.to_bytes(gen.log_pipeline_inputs(8, 1))


def test_benchmark_json_lists_the_metrics_the_code_prints():
    from perfbench.common import E2E, PER_LAYER

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == E2E
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    assert {w["name"] for w in spec["workloads"]} == {"serve_mixed", "log_pipeline"}


def test_merge_patch_follows_rfc7386():
    doc = {"a": 1, "b": {"c": 2, "d": 3}}
    patched = merge_patch(doc, {"a": None, "b": {"c": 5}, "e": [1]})
    assert patched == {"b": {"c": 5, "d": 3}, "e": [1]}
    assert merge_patch(doc, {"b": 7}) == {"a": 1, "b": 7}


def test_shadow_queries():
    s = Shadow()
    s.create_collection("db", "c")
    s.add("db", "c", [1, 2, 3], "0xAB", [{"cat": "x", "n": 5}, {"cat": "y", "n": 7},
                                         {"cat": "x", "n": 9}])
    s.update("db", "c", [2], [{"cat": "x"}])
    s.delete("db", "c", [3])
    assert s.query("db", "c", {"kind": "eq", "field": "cat", "value": "x"}) == ([2, 1], 2)
    assert s.query("db", "c", {"kind": "count", "field": "cat", "value": "x"}) == ([], 2)
    rng = {"kind": "range", "field": "n", "lo": 0, "hi": 8, "limit": 1}
    assert s.query("db", "c", rng) == ([2], 2)
    assert jql(rng) == "/[n >= 0 and n < 8] | limit 1"
    assert s.get("db", "c", 2) == {"owner": "0xab", "doc": {"cat": "x", "n": 7}}


def test_tail_is_the_highest_percentile_with_ten_samples_beyond():
    values = list(range(1, 31))
    value, pct = probes.tail(values)
    assert pct == 66 and sum(v > value for v in values) == 10
    assert probes.tail([3.0, 1.0, 2.0]) == (2.0, 50)


def test_log_pipeline_inputs_are_consistent():
    inputs = gen.log_pipeline_inputs(3, 1)
    sizes = inputs["sizes"]
    assert sizes["invalid"] == gen.BAD_SIGS + gen.REPLAYS and sizes["blocks"] == 1
    assert sizes["doc_ops"] == gen.PER_BLOCK and len(inputs["catalog"]) == 2
    seen: dict[int, str] = {}
    ids = []
    for block, fx in zip(inputs["blocks"], inputs["effects"]):
        assert len(block) == len(fx)
        for line, e in zip(block, fx):
            env = json.loads(line)
            if e["kind"] == "add":
                ids += e["ids"]
                for i in e["ids"]:
                    seen[i] = env["sender"]
            elif e["kind"] in ("update", "delete"):
                # only the owner touches a document, after its add
                assert seen[e["ids"][0]] == env["sender"]
    assert sorted(ids) == list(range(1, len(ids) + 1))
    shadow = expected_state(inputs)
    assert shadow.user_bytes() > 0


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from rtstore_spark.engine import get_spark

    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    session = get_spark("perfbench-test", **{
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(tmp_path_factory.mktemp("warehouse")),
    })
    yield session
    session.stop()


def test_shadow_agrees_with_docstore(spark, tmp_path):
    """A short serve_mixed sequence through NodeService.dispatch: the
    shadow's state and its answers equal the store's."""
    from rtstore_spark.service import NodeService
    from rtstore_spark.store.docstore import DocStore

    from perfbench.common import Tally
    from perfbench.serve_mixed import apply_ack

    inputs = gen.serve_mixed_inputs(11, 5)
    db, col = inputs["db"], inputs["col"]
    store = DocStore(spark, str(tmp_path / "node"))
    node = NodeService(store)
    shadow, tally = Shadow(), Tally()

    def send(m):
        return node.dispatch("storage", "SendMutation",
                             {"payload": m["payload"], "signature": m["signature"]})

    for m in inputs["setup"]:
        apply_ack(shadow, inputs, m, send(m), tally)
    for step in inputs["steps"]:
        ack = send(step["write"])
        if step["write"]["action"] == "add":
            assert added_ids(ack) == step["write"]["expect_ids"]
        apply_ack(shadow, inputs, step["write"], ack, tally)
        for rd in step["reads"]:
            if rd["op"] == "GetDoc":
                answer = node.dispatch("indexer", "GetDoc",
                                       {"db_addr": db, "col_name": col, "id": rd["id"]})
            else:
                answer = node.dispatch("indexer", "RunQuery", {
                    "db_addr": db, "col_name": col,
                    "query": {"query_str": jql(rd["query"])}})
            assert read_ok(shadow, db, col, rd, answer), rd
    assert tally.failed == 0, tally.failures
    assert store_digest(store, db, col) == shadow.digest(db, col)
