"""Per-response latency of the socket fronts, without Spark.

Both fronts write one response in several ``send`` calls (the JSON front:
headers, then body; h2c: HEADERS, then DATA frames). With Nagle's algorithm
on, a keep-alive client's delayed ACK holds each later segment ~40 ms, so
the fronts must run with TCP_NODELAY.
"""

from __future__ import annotations

import http.client
import socket
import time
from types import SimpleNamespace

from rtstore_spark.service import NodeServer
from rtstore_spark.service_h2 import GrpcH2Server
from rtstore_spark.wire import h2


def test_json_front_keep_alive_responses_do_not_stall():
    # the 404 route answers before any store access, so no node is needed
    srv = NodeServer(node=None).start()
    try:
        conn = http.client.HTTPConnection("127.0.0.1", srv.port, timeout=10)
        conn.request("POST", "/nope")  # connect + first response
        conn.getresponse().read()
        t0 = time.perf_counter()
        for _ in range(20):
            conn.request("POST", "/nope")
            resp = conn.getresponse()
            assert resp.status == 404 and resp.read()
        elapsed = time.perf_counter() - t0
        conn.close()
    finally:
        srv.stop()
    # Nagle alone costs ~0.9 s for 20 keep-alive responses
    assert elapsed < 0.4, f"20 keep-alive responses took {elapsed:.3f} s"


def test_json_front_no_route_with_body_keeps_connection_in_sync():
    # an unread body would be parsed as the next request line
    srv = NodeServer(node=None).start()
    try:
        conn = http.client.HTTPConnection("127.0.0.1", srv.port, timeout=10)
        for _ in range(3):
            conn.request("POST", "/nope", body=b'{"x": 1}',
                         headers={"Content-Type": "application/json"})
            resp = conn.getresponse()
            assert resp.status == 404
            assert resp.getheader("Content-Type") == "application/json"
            resp.read()
        conn.close()
    finally:
        srv.stop()


def test_h2c_accepted_sockets_disable_nagle():
    srv = GrpcH2Server(SimpleNamespace(grpcweb=None), rpc_workers=0).start()
    try:
        sock = socket.create_connection(("127.0.0.1", srv.port), timeout=10)
        sock.sendall(h2.PREFACE)
        sock.sendall(h2.pack_frame(h2.SETTINGS, 0, 0, h2.build_settings({})))
        sock.recv(9)  # the server's SETTINGS: its connection is live
        conn = srv.tcp.last_connection
        assert conn.sock.getsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY)
        sock.close()
    finally:
        srv.stop()
