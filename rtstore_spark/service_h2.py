"""Raw gRPC over cleartext HTTP/2 (h2c) — the reference's native transport.

The TS SDK speaks gRPC-Web (served by service_grpcweb.py), but the
reference's Java SDK builds a plaintext ``ManagedChannel``
(java/src/main/java/network/db3/client/Client.java:11-13 /
StorageProvider's ``usePlaintext()``) and the Rust SDK uses tonic
(src/sdk/src/store_sdk_v2.rs) — both gRPC over HTTP/2 with prior
knowledge. This module serves that: connection preface, SETTINGS
exchange, HPACK-coded HEADERS/CONTINUATION, DATA with both-direction
flow control, PING/GOAWAY/RST_STREAM, and the gRPC semantics on top
(length-prefixed messages, trailers as an END_STREAM HEADERS frame,
``grpc-status``/``grpc-message`` percent-encoded).

Method dispatch reuses the transport-free ``GrpcWebGateway`` core —
one implementation of every RPC behind all three fronts (JSON,
gRPC-Web, raw gRPC), so the fronts cannot drift.

Concurrency model: one OS thread per connection (ThreadingTCPServer,
matching the JSON front's ThreadingHTTPServer) owns ALL socket reads —
frame intake, HPACK decode (connection-wide state), and stream
assembly stay single-threaded. Handler EXECUTION is concurrent for
read-only unary RPCs: completed requests dispatch to a bounded
server-wide worker pool, so a slow RunQuery cannot head-of-line-block
a GetNonce multiplexed on the same channel (grpc-java builds ONE
plaintext ManagedChannel for every call — Client.java:11-13 — and
tonic's server executes streams concurrently; sequential-per-
connection was a real serving gap). Mutations (SendMutation / Setup)
stay on the connection thread in arrival order — the sequencer
serializes them anyway — and server-streaming Subscribe stays inline
because its loop owns the connection's read side. Response frames
from concurrent workers interleave legally (distinct stream ids);
each frame is written atomically under ``wlock``. The default HPACK
encoder is stateless (no dynamic table), so header blocks carry no
cross-stream ordering constraint; the opt-in dynamic encoder
(``GrpcH2Server(hpack_dynamic=True)`` — the grpc-java/tonic response
convention) keeps correctness by encoding INSIDE the write lock, so
table-state order always equals wire order. Workers never read the socket: a
worker that exhausts a flow-control window waits on a condition the
reader thread notifies after processing WINDOW_UPDATE / RST /
SETTINGS.
"""

from __future__ import annotations

import socket
import socketserver
import threading
import time
from urllib.parse import quote

from rtstore_spark.service_grpcweb import GrpcStatus
from rtstore_spark.wire import h2
from rtstore_spark.wire.hpack import (
    HpackDecoder,
    HpackDynamicEncoder,
    HpackEncoder,
    HpackError,
)
from rtstore_spark.wire.rpc_schemas import MUTATING_METHODS

_MAX_HEADER_BLOCK = 1 << 16   # accumulated fragment cap per header block
_MAX_BODY = 1 << 24           # per-stream request body cap (16 MiB)
_OUR_MAX_FRAME = h2.DEFAULT_MAX_FRAME


class _Stream:
    __slots__ = ("sid", "headers", "body", "header_done", "ended", "reset")

    def __init__(self, sid: int):
        self.sid = sid
        self.headers: list[tuple[str, str]] = []
        self.body = bytearray()
        self.header_done = False
        self.ended = False
        self.reset = False


class _Connection:
    """One h2c connection: frame loop, per-stream assembly, dispatch."""

    def __init__(self, sock: socket.socket, gateway, pool=None,
                 hpack_dynamic: bool = False):
        self.sock = sock
        self.io_timeout = sock.gettimeout()  # restored after probes
        self.gateway = gateway
        self.pool = pool  # bounded executor for read-only unary dispatch
        self.decoder = HpackDecoder()
        # opt-in response-side dynamic table (GrpcH2Server hpack_dynamic):
        # repeated response headers collapse to indexed fields the way
        # grpc-java/tonic encode them. The table mirrors what the CLIENT's
        # decoder builds, so encode order must equal wire order —
        # _send_header_block holds wlock across encode+send. Default stays
        # the stateless encoder: zero cross-stream ordering constraints.
        self.encoder = HpackDynamicEncoder() if hpack_dynamic else HpackEncoder()
        self.streams: dict[int, _Stream] = {}
        # bounded stream bookkeeping (a gRPC channel lives for hours and
        # carries millions of streams — no per-stream set may grow with
        # connection lifetime): high-water ids instead of a done-set, and
        # a reset-set whose entries die with their stream's dispatch
        self.max_started_sid = 0
        self.max_processed_sid = 0
        self.reset_streams: set[int] = set()
        # stack of streams currently being responded to — MORE than one
        # when a unary dispatches nested inside a live Subscribe; RST and
        # WINDOW_UPDATE checks must see every level, not just the top,
        # or a cancel for the outer stream during a nested dispatch is
        # lost and the server streams to a dead stream forever
        self.responding_sids: list[int] = []
        self.ready: list[_Stream] = []
        self.dispatching = False
        # flow control for OUR sends: connection window + per-stream
        self.send_window = h2.DEFAULT_WINDOW
        self.stream_send_windows: dict[int, int] = {}
        self.peer_initial_window = h2.DEFAULT_WINDOW
        self.peer_max_frame = h2.DEFAULT_MAX_FRAME
        self.closing = False
        self.wlock = threading.Lock()
        # worker-pool dispatch state. flock guards everything a worker
        # shares with the reader thread: window arithmetic, reset/
        # responding/pending bookkeeping, inflight count. window_cv is
        # notified whenever send budget may have changed (WINDOW_UPDATE,
        # SETTINGS initial-window delta, RST, GOAWAY, teardown) so a
        # worker blocked mid-response wakes without reading the socket.
        self.flock = threading.Lock()
        self.window_cv = threading.Condition(self.flock)
        self.pending_sids: set[int] = set()  # submitted, not yet running
        self.inflight = 0                    # worker dispatches in flight
        self.conn_thread: threading.Thread | None = None
        self.dead = False                    # socket torn down: abort sends

    # ------------------------------------------------------------ raw io

    def _recv_exact(self, n: int) -> bytes:
        buf = bytearray()
        while len(buf) < n:
            chunk = self.sock.recv(n - len(buf))
            if not chunk:
                raise ConnectionError("peer closed")
            buf += chunk
        return bytes(buf)

    def _send(self, raw: bytes) -> None:
        with self.wlock:
            self.sock.sendall(raw)

    # ------------------------------------------------------------- serve

    def serve(self) -> None:
        self.conn_thread = threading.current_thread()
        try:
            preface = self._recv_exact(len(h2.PREFACE))
            if preface != h2.PREFACE:
                return  # not an h2c client; nothing sensible to answer
            self._send(h2.pack_frame(
                h2.SETTINGS, 0, 0,
                h2.build_settings({h2.SETTINGS_MAX_CONCURRENT_STREAMS: 128}),
            ))
            while not self.closing:
                self._process_one_frame()
                self._drain_ready()
        except (ConnectionError, BrokenPipeError, OSError):
            pass
        except h2.H2Error as e:
            try:
                # last-stream-id = highest FULLY PROCESSED stream: anything
                # above it the peer may safely retry (RFC 9113 §6.8) —
                # advertising 0 would invite replays of applied mutations
                self._send(h2.pack_frame(
                    h2.GOAWAY, 0, 0,
                    self.max_processed_sid.to_bytes(4, "big")
                    + e.code.to_bytes(4, "big")
                    + str(e).encode()[:128],
                ))
            except OSError:
                pass
        finally:
            # let in-flight worker responses finish before the handler
            # returns and ThreadingTCPServer closes the socket (a clean
            # GOAWAY close must not cut off streams already dispatched),
            # then mark the connection dead so any worker still blocked
            # on flow control aborts instead of waiting out its deadline
            with self.flock:
                deadline = time.monotonic() + 5.0
                while self.inflight and time.monotonic() < deadline:
                    self.window_cv.wait(timeout=0.1)
                self.dead = True
                self.window_cv.notify_all()

    # ------------------------------------------------------- frame intake

    def _process_one_frame(self) -> None:
        length, ftype, flags, sid = h2.parse_frame_header(self._recv_exact(9))
        if length > _OUR_MAX_FRAME + 255:
            raise h2.H2Error(h2.FRAME_SIZE_ERROR, f"frame of {length} bytes")
        payload = self._recv_exact(length) if length else b""

        if ftype == h2.SETTINGS:
            self._on_settings(flags, sid, payload)
        elif ftype == h2.HEADERS:
            self._on_headers(flags, sid, payload)
        elif ftype == h2.CONTINUATION:
            raise h2.H2Error(h2.PROTOCOL_ERROR, "CONTINUATION outside a header block")
        elif ftype == h2.DATA:
            self._on_data(flags, sid, payload)
        elif ftype == h2.WINDOW_UPDATE:
            self._on_window_update(sid, payload)
        elif ftype == h2.PING:
            if len(payload) != 8:
                raise h2.H2Error(h2.FRAME_SIZE_ERROR, "PING payload != 8")
            if not flags & h2.FLAG_ACK:
                self._send(h2.pack_frame(h2.PING, h2.FLAG_ACK, 0, payload))
        elif ftype == h2.RST_STREAM:
            st = self.streams.pop(sid, None)
            if st:
                st.reset = True
            # remember the cancellation ONLY while a dispatch for this
            # stream is pending (queued locally or on the worker pool) or
            # running — those paths prune the entry when they finish, so
            # the set stays bounded. A stream cancelled mid-assembly (st
            # popped above, never reaching `ready`) needs no memory: it
            # can never dispatch, and late DATA for it already drops via
            # max_started_sid.
            with self.flock:
                if (
                    sid in self.responding_sids
                    or sid in self.pending_sids
                    or any(s.sid == sid for s in self.ready)
                ):
                    self.reset_streams.add(sid)
                self.stream_send_windows.pop(sid, None)
                # a worker mid-send on this stream must wake and abort —
                # its window never reopens after a reset
                self.window_cv.notify_all()
        elif ftype == h2.GOAWAY:
            with self.flock:
                self.closing = True
                self.window_cv.notify_all()
        elif ftype in (h2.PRIORITY, h2.PUSH_PROMISE):
            pass  # PRIORITY ignored; clients never push
        # unknown frame types are ignored per spec

    def _on_settings(self, flags: int, sid: int, payload: bytes) -> None:
        if sid != 0:
            raise h2.H2Error(h2.PROTOCOL_ERROR, "SETTINGS on a stream")
        if flags & h2.FLAG_ACK:
            return
        settings = h2.parse_settings(payload)
        if h2.SETTINGS_HEADER_TABLE_SIZE in settings and isinstance(
            self.encoder, HpackDynamicEncoder
        ):
            # the client's decoder table bound applies to OUR encoder
            # (capped locally); the required table-size update opcode is
            # emitted at the head of the next header block. Under wlock:
            # pool workers encode header blocks while holding it
            # (_send_header_block), and a bare mutation here would race
            # their table iteration AND could clobber a pending update
            # between its emit and its clear
            with self.wlock:
                self.encoder.set_max_size(
                    settings[h2.SETTINGS_HEADER_TABLE_SIZE]
                )
        if h2.SETTINGS_MAX_FRAME_SIZE in settings:
            v = settings[h2.SETTINGS_MAX_FRAME_SIZE]
            if not (h2.DEFAULT_MAX_FRAME <= v <= (1 << 24) - 1):
                raise h2.H2Error(h2.PROTOCOL_ERROR, "bad MAX_FRAME_SIZE")
            self.peer_max_frame = v
        if h2.SETTINGS_INITIAL_WINDOW_SIZE in settings:
            v = settings[h2.SETTINGS_INITIAL_WINDOW_SIZE]
            if v > (1 << 31) - 1:
                raise h2.H2Error(h2.FLOW_CONTROL_ERROR, "bad INITIAL_WINDOW_SIZE")
            with self.flock:
                delta = v - self.peer_initial_window
                self.peer_initial_window = v
                for k in self.stream_send_windows:
                    self.stream_send_windows[k] += delta
                if delta > 0:
                    self.window_cv.notify_all()
        self._send(h2.pack_frame(h2.SETTINGS, h2.FLAG_ACK, 0))

    # our advertised SETTINGS_MAX_CONCURRENT_STREAMS — enforced, not
    # just advertised: excess half-open streams are REFUSED so one
    # connection cannot accumulate unbounded assembly state
    MAX_CONCURRENT = 128

    def _on_headers(self, flags: int, sid: int, payload: bytes) -> None:
        if sid == 0 or sid % 2 == 0:
            raise h2.H2Error(h2.PROTOCOL_ERROR, "bad client stream id")
        if sid <= self.max_started_sid:
            # RFC 9113 §5.1.1: client stream ids are strictly increasing;
            # a repeated HEADERS would silently replace live assembly
            # state or double-respond on a finished stream
            raise h2.H2Error(
                h2.PROTOCOL_ERROR, f"stream id {sid} not increasing"
            )
        body = h2.strip_padding(payload, flags)
        if flags & h2.FLAG_PRIORITY:
            if len(body) < 5:
                raise h2.H2Error(h2.PROTOCOL_ERROR, "short priority block")
            body = body[5:]
        fragment = bytearray(body)
        end_headers = bool(flags & h2.FLAG_END_HEADERS)
        while not end_headers:
            ln, ft, fl, cs = h2.parse_frame_header(self._recv_exact(9))
            if ft != h2.CONTINUATION or cs != sid:
                raise h2.H2Error(h2.PROTOCOL_ERROR, "expected CONTINUATION")
            if ln > _OUR_MAX_FRAME + 255:
                # same bound every top-level frame gets — without it the
                # peer controls a blocking read of up to 16 MiB before
                # the header-block cap fires
                raise h2.H2Error(h2.FRAME_SIZE_ERROR,
                                 f"CONTINUATION of {ln} bytes")
            fragment += self._recv_exact(ln)
            if len(fragment) > _MAX_HEADER_BLOCK:
                raise h2.H2Error(h2.PROTOCOL_ERROR, "header block too large")
            end_headers = bool(fl & h2.FLAG_END_HEADERS)
        try:
            headers = self.decoder.decode(bytes(fragment))
        except HpackError as e:
            raise h2.H2Error(h2.PROTOCOL_ERROR, f"HPACK: {e}") from e
        # the concurrency charge counts every live phase of a stream:
        # assembling (streams — which also covers completed-but-queued,
        # `ready` ⊆ streams), queued on the worker pool (pending_sids),
        # and dispatching (responding_sids). Counting only `streams`
        # would let a pipelining client push unbounded work onto the
        # pool queue after the reader popped each stream for dispatch —
        # the intake throttle the inline path used to get from TCP
        # backpressure for free.
        with self.flock:
            active = (
                len(self.streams)
                + len(self.pending_sids)
                + len(self.responding_sids)
            )
        if active >= self.MAX_CONCURRENT:
            # header block DECODED above (HPACK state is connection-wide
            # even for refused streams), then the stream is refused —
            # a retryable stream error, not a connection error
            self.max_started_sid = max(self.max_started_sid, sid)
            self._send(h2.pack_frame(
                h2.RST_STREAM, 0, sid, h2.REFUSED_STREAM.to_bytes(4, "big")
            ))
            return
        st = _Stream(sid)
        st.headers = headers
        st.header_done = True
        self.streams[sid] = st
        self.max_started_sid = max(self.max_started_sid, sid)
        with self.flock:
            self.stream_send_windows.setdefault(sid, self.peer_initial_window)
        if flags & h2.FLAG_END_STREAM:
            st.ended = True
            self.ready.append(st)

    def _on_data(self, flags: int, sid: int, payload: bytes) -> None:
        # validate the stream id BEFORE granting window: DATA on stream 0
        # or an idle stream is a connection error (RFC 9113 §6.1), and
        # replying to it with WINDOW_UPDATE frames would double-grant our
        # own receive window / emit frames on a stream that never existed
        if sid == 0:
            raise h2.H2Error(h2.PROTOCOL_ERROR, "DATA on stream 0")
        st = self.streams.get(sid)
        if st is None and sid > self.max_started_sid:
            raise h2.H2Error(h2.PROTOCOL_ERROR, f"DATA on idle stream {sid}")
        raw_len = len(payload)
        body = h2.strip_padding(payload, flags)
        # replenish receive windows so the client never stalls; we consume
        # data as it arrives (assembly buffer, bounded below). Late DATA
        # for a finished stream still counted against the CONNECTION
        # window, so that grant always goes out; the stream-level grant is
        # only meaningful while the stream is open
        if raw_len:
            upd = raw_len.to_bytes(4, "big")
            grant = h2.pack_frame(h2.WINDOW_UPDATE, 0, 0, upd)
            if st is not None and not st.ended:
                grant += h2.pack_frame(h2.WINDOW_UPDATE, 0, sid, upd)
            self._send(grant)
        if st is None or st.ended:
            return  # late DATA after reset/response: drop
        st.body += body
        if len(st.body) > _MAX_BODY:
            self._send(h2.pack_frame(
                h2.RST_STREAM, 0, sid, (h2.FLOW_CONTROL_ERROR).to_bytes(4, "big")
            ))
            self.streams.pop(sid, None)
            with self.flock:
                self.stream_send_windows.pop(sid, None)
            return
        if flags & h2.FLAG_END_STREAM:
            st.ended = True
            self.ready.append(st)

    def _on_window_update(self, sid: int, payload: bytes) -> None:
        if len(payload) != 4:
            raise h2.H2Error(h2.FRAME_SIZE_ERROR, "WINDOW_UPDATE payload != 4")
        inc = int.from_bytes(payload, "big") & 0x7FFFFFFF
        if inc == 0:
            raise h2.H2Error(h2.PROTOCOL_ERROR, "zero WINDOW_UPDATE")
        with self.flock:
            if sid == 0:
                self.send_window += inc
            elif (
                sid in self.stream_send_windows
                or sid in self.streams
                or sid in self.responding_sids
                or sid in self.pending_sids
            ):
                self.stream_send_windows[sid] = (
                    self.stream_send_windows.get(sid, self.peer_initial_window)
                    + inc
                )
            # else: update for a finished/idle stream (the client's
            # in-flight WINDOW_UPDATE racing our END_STREAM, or garbage
            # sids) — ignore rather than resurrect bookkeeping that
            # nothing would ever prune
            self.window_cv.notify_all()

    # ---------------------------------------------------------- dispatch

    def _dispatch_st(self, st: _Stream) -> None:
        """Respond to one completed stream, with the per-stream
        bookkeeping torn down afterwards. responding_sids behaves as a
        STACK on the connection thread, so this is safe to NEST (a unary
        dispatched from inside a live Subscribe loop) without hiding the
        outer stream from RST and WINDOW_UPDATE bookkeeping; workers add
        and remove their single entry under flock (stream ids are unique
        per connection, so remove-by-value is exact)."""
        try:
            with self.flock:
                cancelled = st.reset or st.sid in self.reset_streams
                if not cancelled:
                    self.responding_sids.append(st.sid)
                self.pending_sids.discard(st.sid)
            if not cancelled:
                try:
                    self._respond(st)
                finally:
                    with self.flock:
                        self.responding_sids.remove(st.sid)
        finally:
            with self.flock:
                self.max_processed_sid = max(self.max_processed_sid, st.sid)
                # stream is over: its bookkeeping dies with it
                self.reset_streams.discard(st.sid)
                self.stream_send_windows.pop(st.sid, None)

    def _offloadable(self, st: _Stream) -> bool:
        """True when this completed request may execute on the worker
        pool: a KNOWN, read-only, unary method. Mutations keep arrival
        order on the connection thread; streaming owns the read side;
        unknown-method errors are cheap and stay inline."""
        if self.pool is None:
            return False
        try:
            path = next((v for k, v in st.headers if k == ":path"), "")
            service, method, _, _, streaming = self.gateway.resolve(path)
        except Exception:  # noqa: BLE001 — unknown method: inline error path
            return False
        return not streaming and (service, method) not in MUTATING_METHODS

    def _worker_dispatch(self, st: _Stream) -> None:
        """Pool-side wrapper: a worker failure must never leak out of the
        executor or leave inflight/bookkeeping dangling. _respond already
        converts handler errors to trailers; what reaches here is only
        transport death (peer vanished mid-send), which the reader thread
        observes independently."""
        try:
            self._dispatch_st(st)
        except (ConnectionError, BrokenPipeError, OSError):
            pass
        except Exception:  # noqa: BLE001 — never kill a pool thread
            pass
        finally:
            with self.flock:
                self.inflight -= 1
                self.window_cv.notify_all()

    def _launch(self, st: _Stream) -> None:
        """Dispatch one completed stream: offload read-only unaries so a
        slow query cannot head-of-line-block other RPCs multiplexed on
        this channel; everything else runs inline on the reader thread."""
        if self._offloadable(st):
            with self.flock:
                # visible to the RST handler BEFORE the worker starts, or
                # a cancel landing in the submit→run gap would be lost
                self.pending_sids.add(st.sid)
                self.inflight += 1
            try:
                self.pool.submit(self._worker_dispatch, st)
                return
            except RuntimeError:  # pool shut down mid-stop: degrade inline
                with self.flock:
                    self.pending_sids.discard(st.sid)
                    self.inflight -= 1
        self._dispatch_st(st)

    def _drain_ready(self) -> None:
        if self.dispatching:
            return  # nested intake during a flow-control wait: defer
        self.dispatching = True
        try:
            while self.ready:
                st = self.ready.pop(0)
                self.streams.pop(st.sid, None)
                self._launch(st)
        finally:
            self.dispatching = False

    def _is_streaming_request(self, st: _Stream) -> bool:
        try:
            path = next((v for k, v in st.headers if k == ":path"), "")
            return bool(self.gateway.resolve(path)[4])
        except Exception:  # noqa: BLE001 — unknown method: unary error path
            return False

    def _dispatch_unary_pending(self) -> None:
        """Answer completed UNARY requests that arrived while a Subscribe
        stream holds this connection's thread — grpc-java multiplexes
        calls over one channel, and a 300 s stream must not starve a
        GetNonce. Server-streaming requests stay queued (nesting two
        subscribes would deadlock the inner behind the outer); they
        dispatch when the current stream ends."""
        i = 0
        while i < len(self.ready):
            if self._is_streaming_request(self.ready[i]):
                i += 1
                continue
            st = self.ready.pop(i)
            self.streams.pop(st.sid, None)
            self._launch(st)

    def _respond(self, st: _Stream) -> None:
        pseudo = {k: v for k, v in st.headers if k.startswith(":")}
        path = pseudo.get(":path", "")
        try:
            if pseudo.get(":method") != "POST":
                raise GrpcStatus(12, "gRPC requires POST")
            frames = h2.parse_grpc_frames(bytes(st.body))
            if any(flag for flag, _ in frames):
                raise GrpcStatus(12, "compressed gRPC messages not supported")
            messages = [m for _, m in frames]
            service, method, req_schema, resp_schema, streaming = (
                self.gateway.resolve(path)
            )
            if streaming:
                self._respond_stream(st, req_schema, messages)
                return
            if len(messages) != 1:
                raise GrpcStatus(3, f"expected 1 message, got {len(messages)}")
            resp = self.gateway.handle_unary(path, messages[0])
        except GrpcStatus as e:
            if st.sid not in self.reset_streams:
                self._send_trailers_only(st.sid, e.code, str(e))
            return
        except (h2.H2Error, OSError):
            # connection-level failure (malformed frame seen during a
            # nested drain, peer vanished): let serve() tear the whole
            # connection down with GOAWAY — answering with trailers-only
            # would put a second `:status` HEADERS on an open stream and
            # leave a desynced connection alive
            raise
        except ValueError as e:
            self._send_trailers_only(st.sid, 3, f"bad request: {e}")
            return
        except Exception as e:  # noqa: BLE001 — never kill the connection
            self._send_trailers_only(st.sid, 13, f"internal: {e}")
            return
        if st.sid in self.reset_streams:
            return  # cancelled while the handler ran: emit nothing
        self._send_headers(st.sid, end_stream=False)
        complete = self._send_data(st.sid, h2.grpc_frame(resp))
        if st.sid in self.reset_streams:
            return  # cancelled mid-send: no trailers
        if complete:
            self._send_trailers(st.sid, 0, "")
        elif not self.dead:
            # truncated response (window never reopened / GOAWAY while
            # blocked): the peer has a partial gRPC frame — trailers are
            # HEADERS, exempt from flow control, so the failure can
            # always be reported; grpc-status 0 here would assert a
            # response the peer cannot decode
            self._send_trailers(
                st.sid, 13,
                "response truncated: flow-control window never reopened",
            )

    def _respond_stream(self, st: _Stream, req_schema, messages) -> None:
        """Server-streaming Subscribe over the shared broadcaster."""
        if len(messages) != 1:
            self._send_trailers_only(
                st.sid, 3, f"expected 1 message, got {len(messages)}"
            )
            return
        try:
            req = req_schema.decode(messages[0])
        except Exception as e:  # noqa: BLE001
            self._send_trailers_only(st.sid, 3, f"bad request message: {e}")
            return
        self._send_headers(st.sid, end_stream=False)
        try:
            for encoded in self.gateway.subscribe_events(req):
                # honor cancellation promptly: drain whatever the peer has
                # already sent (RST_STREAM, WINDOW_UPDATE, new requests)
                # before each event/tick, and stop streaming on reset so
                # queued RPCs on this connection dispatch right away
                # instead of after the stream deadline
                self._drain_incoming()
                if st.sid in self.reset_streams:
                    return  # client cancelled; stream is already closed
                if self.closing:
                    # peer sent GOAWAY: it is winding the channel down —
                    # end the stream cleanly NOW instead of emitting
                    # events/PINGs until the 300 s deadline
                    break
                # multiplexed unary calls answer NOW, between events
                self._dispatch_unary_pending()
                if encoded is None:
                    # liveness tick — PING the peer so a vanished client
                    # surfaces as a send error instead of an eternal wait
                    self._send(h2.pack_frame(h2.PING, 0, 0, b"\x00" * 8))
                    continue
                if not self._send_data(st.sid, h2.grpc_frame(encoded)):
                    return  # reset/teardown during a flow-control wait
                if st.sid in self.reset_streams:
                    return  # reset arrived during a flow-control wait
        except (ConnectionError, BrokenPipeError, OSError):
            raise ConnectionError("subscriber vanished")
        except h2.H2Error:
            raise  # malformed peer frame: connection-level GOAWAY path
        except GrpcStatus as e:
            # response HEADERS are already out — report the failure in
            # REGULAR trailers (no :status), never a trailers-only block
            if st.sid not in self.reset_streams:
                self._send_trailers(st.sid, e.code, str(e))
            return
        except Exception as e:  # noqa: BLE001 — stream fails, conn survives
            if st.sid not in self.reset_streams:
                self._send_trailers(st.sid, 13, f"internal: {e}")
            return
        self._send_trailers(st.sid, 0, "")

    def _drain_incoming(self) -> None:
        """Process every COMPLETE frame the peer has already sent, without
        blocking. Non-blocking MSG_PEEK probes (not select() — FD_SETSIZE)
        check that the full frame header AND payload are buffered before
        committing to the blocking read — a partial frame (slow sender,
        split segments) is left for the next drain or the main serve loop
        rather than stalling this one on io_timeout. The socket flips to
        non-blocking for the probe: in timeout mode Python's recv WAITS
        for readability before the syscall, so MSG_DONTWAIT alone would
        still block. Frames (≤ ~16 KiB + padding) are far smaller than
        any SO_RCVBUF, so a complete frame is always fully peekable."""
        while True:
            try:
                self.sock.settimeout(0)
                head = self.sock.recv(9, socket.MSG_PEEK)
                if head and len(head) == 9:
                    length = int.from_bytes(head[:3], "big")
                    if length > _OUR_MAX_FRAME + 255:
                        # reject the oversized frame NOW: its payload may
                        # exceed the socket buffer, so "wait until fully
                        # buffered" would never commit and the frames
                        # queued behind it (RST, WINDOW_UPDATE) would go
                        # unread until the stream deadline
                        raise h2.H2Error(h2.FRAME_SIZE_ERROR,
                                         f"frame of {length} bytes")
                    need = 9 + length
                    whole = self.sock.recv(need, socket.MSG_PEEK)
                else:
                    whole = head
            except (BlockingIOError, InterruptedError):
                return
            finally:
                self.sock.settimeout(self.io_timeout)
            if whole == b"":
                raise ConnectionError("peer closed")
            if len(head) < 9 or len(whole) < need:
                return  # partial frame: revisit when the rest arrives
            if head[3] == h2.HEADERS and not head[4] & h2.FLAG_END_HEADERS:
                # a header block spans CONTINUATION frames and
                # _on_headers reads them ALL with blocking recvs — only
                # commit once every fragment through END_HEADERS is
                # buffered, or a half-sent block stalls the whole drain
                # (liveness pings, event delivery) for up to io_timeout
                if not self._header_block_buffered(need):
                    return
            self._process_one_frame()

    def _header_block_buffered(self, off: int) -> bool:
        """True when every CONTINUATION through END_HEADERS is already in
        the socket buffer, peeking past ``off`` (the HEADERS frame's end).
        Capped at the header-block limit: an over-limit block commits to
        processing anyway — _on_headers raises the protocol error for it."""
        try:
            self.sock.settimeout(0)
            while off <= _MAX_HEADER_BLOCK + 4096:
                probe = self.sock.recv(off + 9, socket.MSG_PEEK)
                if len(probe) < off + 9:
                    return False
                ln = int.from_bytes(probe[off:off + 3], "big")
                flags = probe[off + 4]
                off += 9 + ln
                if len(self.sock.recv(off, socket.MSG_PEEK)) < off:
                    return False
                if flags & h2.FLAG_END_HEADERS:
                    return True
            return True  # over the cap: let _on_headers reject it
        except (BlockingIOError, InterruptedError):
            return False
        finally:
            self.sock.settimeout(self.io_timeout)

    # ----------------------------------------------------------- senders

    def _send_header_block(
        self, sid: int, headers: list[tuple[str, str]], flags: int
    ) -> None:
        """Encode + send as ONE critical section: with the dynamic
        encoder, the table state advances per block and the client's
        decoder replays blocks in WIRE order — an encode that raced a
        concurrent worker's would corrupt both. (With the stateless
        encoder the lock scope is merely a tad wider than needed.)"""
        with self.wlock:
            block = self.encoder.encode(headers)
            self.sock.sendall(h2.pack_frame(h2.HEADERS, flags, sid, block))

    def _send_headers(self, sid: int, end_stream: bool) -> None:
        flags = h2.FLAG_END_HEADERS | (h2.FLAG_END_STREAM if end_stream else 0)
        self._send_header_block(sid, [
            (":status", "200"),
            ("content-type", "application/grpc"),
        ], flags)

    def _trailer_headers(
        self, status: int, message: str
    ) -> list[tuple[str, str]]:
        trailers = [("grpc-status", str(status))]
        if message:
            trailers.append(("grpc-message", quote(message)))
        return trailers

    def _send_trailers(self, sid: int, status: int, message: str) -> None:
        self._send_header_block(
            sid, self._trailer_headers(status, message),
            h2.FLAG_END_HEADERS | h2.FLAG_END_STREAM,
        )

    def _send_trailers_only(self, sid: int, status: int, message: str) -> None:
        """gRPC trailers-only response: one HEADERS frame with the
        response headers AND the trailers, END_STREAM set."""
        self._send_header_block(
            sid,
            [
                (":status", "200"),
                ("content-type", "application/grpc"),
            ] + self._trailer_headers(status, message),
            h2.FLAG_END_HEADERS | h2.FLAG_END_STREAM,
        )

    def _send_data(self, sid: int, data: bytes) -> bool:
        """DATA with flow control; returns True when EVERY byte went out.
        When a window is exhausted: on the CONNECTION thread, keep
        processing incoming frames (WINDOW_UPDATE / PING / RST) until
        the peer opens it — completed requests that arrive while we
        wait queue in ``ready`` and dispatch after this response. On a
        WORKER thread, never touch the socket's read side: wait on
        window_cv, which the reader notifies after any frame that can
        change budget; the stall deadline resets on every chunk sent,
        so a slow-but-progressing client is never cut off — only a
        window that stays shut for a full io_timeout is. A RST_STREAM
        for THIS stream aborts the send — a cancelled stream's window
        never reopens, so looping on it would deadlock the response.
        Callers must NOT follow a False return with ok trailers: the
        peer got a DATA stream shorter than its gRPC length prefix."""
        view = memoryview(data)
        on_conn_thread = threading.current_thread() is self.conn_thread
        stall_limit = self.io_timeout or 120.0
        deadline = time.monotonic() + stall_limit
        while view:
            with self.flock:
                if sid in self.reset_streams or self.dead:
                    return False  # peer cancelled mid-response / socket gone
                budget = min(
                    self.send_window,
                    self.stream_send_windows.get(sid, self.peer_initial_window),
                    self.peer_max_frame,
                )
                if budget > 0:
                    chunk = bytes(view[:budget])
                    view = view[len(chunk):]
                    self.send_window -= len(chunk)
                    self.stream_send_windows[sid] = self.stream_send_windows.get(
                        sid, self.peer_initial_window
                    ) - len(chunk)
                else:
                    chunk = None
                    if not on_conn_thread:
                        if self.closing:
                            # reader stopped after GOAWAY: no more
                            # WINDOW_UPDATEs will ever arrive
                            return False
                        self.window_cv.wait(timeout=0.25)
                        if time.monotonic() > deadline:
                            return False  # window shut for a full timeout
                        continue
            if chunk is None:
                self._process_one_frame()  # wait for WINDOW_UPDATE / RST
                continue
            self._send(h2.pack_frame(h2.DATA, 0, sid, chunk))
            deadline = time.monotonic() + stall_limit  # progress made
        return True


class _H2Handler(socketserver.BaseRequestHandler):
    def handle(self) -> None:
        self.request.settimeout(self.server.io_timeout)
        # HEADERS and DATA frames leave in separate sendall()s: without
        # TCP_NODELAY the second waits on the peer's delayed ACK
        self.request.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        conn = _Connection(
            self.request, self.server.gateway, self.server.rpc_pool,
            hpack_dynamic=getattr(self.server, "hpack_dynamic", False),
        )
        # observability hook: tests assert the bounded-bookkeeping
        # invariant (per-stream state dies with its stream) on a live conn
        self.server.last_connection = conn
        conn.serve()


class _H2TCPServer(socketserver.ThreadingTCPServer):
    allow_reuse_address = True
    daemon_threads = True


class GrpcH2Server:
    """Threaded localhost h2c gRPC server over a ``NodeService``.

    Same lifecycle shape as ``NodeServer``: ``port=0`` binds ephemeral,
    ``.start()`` spins the accept thread, ``.stop()`` shuts down.
    """

    def __init__(self, node, host: str = "127.0.0.1", port: int = 0,
                 io_timeout: float = 120.0, rpc_workers: int = 8,
                 hpack_dynamic: bool = False):
        from concurrent.futures import ThreadPoolExecutor

        self.node = node
        self.tcp = _H2TCPServer((host, port), _H2Handler)
        self.tcp.gateway = node.grpcweb  # the transport-free RPC core
        self.tcp.io_timeout = io_timeout
        # opt-in response-side HPACK dynamic table (perf parity with
        # grpc-java/tonic servers, which index repeated response headers)
        self.tcp.hpack_dynamic = hpack_dynamic
        # server-wide BOUNDED pool for read-only unary dispatch: caps
        # total concurrent query execution regardless of how many
        # channels are open (per-connection pools would multiply under a
        # connection flood). rpc_workers=0 disables offload entirely —
        # every RPC runs inline on its connection thread, the pre-round-8
        # discipline.
        self._pool = (
            ThreadPoolExecutor(
                max_workers=rpc_workers, thread_name_prefix="rtstore-h2c-rpc"
            )
            if rpc_workers > 0 else None
        )
        self.tcp.rpc_pool = self._pool
        self.port = self.tcp.server_address[1]
        self._thread: threading.Thread | None = None

    def start(self) -> "GrpcH2Server":
        self._thread = threading.Thread(
            target=self.tcp.serve_forever, name="rtstore-h2c", daemon=True
        )
        self._thread.start()
        return self

    def stop(self) -> None:
        self.tcp.shutdown()
        self.tcp.server_close()
        if self._pool is not None:
            self._pool.shutdown(wait=False)
        if self._thread:
            self._thread.join(timeout=5)
