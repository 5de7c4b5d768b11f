"""BlockNotify — the reference's block-head feed, driver-side.

Reference shape (/root/reference/eth_event_stream/src/data_feed/block.rs:22-68):
subscribe to WebSocket ``newHeads``, broadcast the current block number to
every subscriber over a ``tokio::sync::watch`` channel (data_feed/pubsub.rs:
5-29 — late joiners immediately see the latest value), reconnect forever
with exponential backoff (block.rs:25-26: 10 ms base, 5 attempts per
connect round).

Spark disposition: on the micro-batch execution model the engine's own
trigger loop polls ``EthLogStreamReader.latestOffset`` (sources/block_source.py),
so a push feed cannot make BATCHES start earlier — trigger cadence bounds
ingest latency regardless. What a head feed IS for here is DRIVER-SIDE
orchestration, the same role the reference's consumers use it for:

- ``wait_for(target)`` — block until the chain reaches a height (the B5
  barrier at head level: start a bounded drain once the range is minable);
- ``latest()`` — a monotonic head reading shared by many consumers without
  each issuing RPC calls (one poll thread serves N subscribers, exactly the
  single-WS-connection fan-out of the reference);
- choosing/adapting trigger intervals from observed block cadence.

Two transports, one watch state:

- default: an ``eth_blockNumber`` poll thread — works against any
  HTTP-only node;
- ``ws_url=...``: the reference's actual shape — a WebSocket
  ``eth_subscribe("newHeads")`` push feed (block.rs:22-68) over the
  stdlib RFC 6455 client in ``ws.py``. Push removes the poll round-trips
  and delivers heads the moment the node announces them; against a
  rate-limited provider this is the difference a user notices first.

Both deliver "the head is now H" into the same watch channel, so every
subscriber semantic below is transport-independent. The reconnect-forever
contract is kept in both: transient failures (socket drops, server-side
closes, timeouts) back off exponentially (10 ms base, capped) and the
feed reconnects and RE-SUBSCRIBES; deterministic protocol errors (refused
upgrade, subscription rejected, malformed heads) surface to ``error`` and
stop the feed (fail-fast, stream.rs:257-299 policy) rather than spinning
on a broken endpoint.
"""

from __future__ import annotations

import json
import threading

from .rpc import JsonRpcLogFetcher, RpcError, TransientRpcError
from .ws import WsClient


class BlockNotify:
    """Watch-channel head feed over a polling thread.

    Semantics mirrored from the reference:

    - watch channel (pubsub.rs): subscribers read the LATEST value; a
      subscriber that joins late sees the current head immediately; no
      queue, no per-subscriber backlog.
    - monotonic: a node answering with a lower height (load-balanced
      endpoints disagreeing) never moves the head backwards — the same
      uncle guard the live tail applies (stream.rs:239-241).
    - reconnect forever: transient failures back off (10 ms doubling,
      capped at ``poll_interval_s``) and polling continues.
    """

    def __init__(
        self,
        rpc_url: str,
        poll_interval_s: float = 0.2,
        retry_base_s: float = 0.01,
        ws_url: str | None = None,
        ws_idle_timeout_s: float = 60.0,
    ):
        self._fetcher = JsonRpcLogFetcher(rpc_url)
        self.poll_interval_s = poll_interval_s
        self.retry_base_s = retry_base_s
        self.ws_url = ws_url
        # idle budget between pushed frames: must exceed the chain's block
        # cadence (~12 s) or every quiet gap reconnect-churns; a dead link
        # still surfaces within it
        self.ws_idle_timeout_s = ws_idle_timeout_s
        self._ws: WsClient | None = None
        self._cond = threading.Condition()
        self._head: int | None = None
        self.error: Exception | None = None
        self._stopped = False
        self._thread = threading.Thread(
            target=self._run_ws if ws_url else self._run, daemon=True
        )
        self._thread.start()

    # -- feed thread --------------------------------------------------------

    def _run(self) -> None:
        backoff = self.retry_base_s
        while True:
            with self._cond:
                if self._stopped:
                    return
            try:
                head = self._fetcher.block_number()
                backoff = self.retry_base_s  # healed
            except TransientRpcError:
                backoff = min(backoff * 2, self.poll_interval_s)
                self._sleep(backoff)
                continue
            except RpcError as e:  # deterministic: fail fast, don't spin
                with self._cond:
                    self.error = e
                    self._cond.notify_all()
                return
            with self._cond:
                if self._head is None or head > self._head:
                    self._head = head
                    self._cond.notify_all()
            self._sleep(self.poll_interval_s)

    def _run_ws(self) -> None:
        """Push transport: subscribe to ``newHeads``; reconnect forever.

        One connection round = connect + handshake + eth_subscribe + read
        notifications until the link drops. Any TransientRpcError (socket
        error, server close, handshake transport failure) ends the round:
        back off (doubling from retry_base_s, capped at 1 s — block.rs
        reconnects forever with backoff) and open a fresh round, which
        RE-SUBSCRIBES (subscriptions are per-connection). Deterministic
        protocol errors fail the feed fast."""
        backoff = self.retry_base_s
        while True:
            with self._cond:
                if self._stopped:
                    return
            try:
                ws = WsClient(
                    self.ws_url,
                    timeout_s=self._fetcher.timeout_s,
                    idle_timeout_s=self.ws_idle_timeout_s,
                )
            except TransientRpcError:
                backoff = min(backoff * 2, 1.0)
                self._sleep(backoff)
                continue
            except RpcError as e:
                self._die(e)
                return
            with self._cond:
                if self._stopped:
                    ws.close()
                    return
                self._ws = ws
            try:
                ws.send_text(
                    json.dumps(
                        {
                            "jsonrpc": "2.0",
                            "id": 1,
                            "method": "eth_subscribe",
                            "params": ["newHeads"],
                        }
                    )
                )
                ack = json.loads(ws.recv_text())
                if not isinstance(ack, dict) or ack.get("error") is not None:
                    raise RpcError(f"eth_subscribe rejected: {ack!r}")
                backoff = self.retry_base_s  # healed
                while True:
                    with self._cond:
                        if self._stopped:
                            return
                    head = self._parse_new_head(ws.recv_text())
                    if head is None:
                        continue
                    with self._cond:
                        if self._head is None or head > self._head:
                            self._head = head
                            self._cond.notify_all()
            except TransientRpcError:
                with self._cond:
                    if self._stopped:
                        return
                backoff = min(backoff * 2, 1.0)
                self._sleep(backoff)
            except RpcError as e:
                self._die(e)
                return
            except (json.JSONDecodeError, UnicodeDecodeError) as e:
                self._die(RpcError(f"newHeads: malformed message ({e})"))
                return
            finally:
                with self._cond:
                    self._ws = None
                ws.close()

    @staticmethod
    def _parse_new_head(text: str) -> int | None:
        """Block height from an eth_subscription notification; None for
        unrelated messages (late acks, other ids); RpcError on a
        notification whose head is malformed. Every shape assumption is
        checked explicitly — a None/non-dict params or result must become
        RpcError (fail-fast, surfaced to ``.error``), never an
        AttributeError that would kill the feed thread silently."""
        msg = json.loads(text)
        if not isinstance(msg, dict) or msg.get("method") != "eth_subscription":
            return None
        params = msg.get("params")
        result = params.get("result") if isinstance(params, dict) else None
        if not isinstance(result, dict):
            raise RpcError(f"newHeads: malformed notification result {result!r}")
        num = result.get("number")
        if not isinstance(num, str):
            raise RpcError(f"newHeads: non-hex block number {num!r}")
        try:
            return int(num, 16)
        except ValueError as e:
            raise RpcError(f"newHeads: non-hex block number {num!r}") from e

    def _die(self, e: Exception) -> None:
        with self._cond:
            self.error = e
            self._cond.notify_all()

    def _sleep(self, seconds: float) -> None:
        with self._cond:
            if not self._stopped:
                self._cond.wait(timeout=seconds)

    # -- subscriber surface (watch-channel reads) ---------------------------

    def latest(self) -> int | None:
        """Current head, or None before the first successful poll."""
        with self._cond:
            return self._head

    def wait_for(self, target: int, timeout_s: float = 30.0) -> int:
        """Block until head >= target (the B5 barrier at head level).

        Returns the head that satisfied the wait. Raises the feed's stored
        error if it died on a deterministic failure, TimeoutError on
        timeout."""
        import time

        deadline = time.monotonic() + timeout_s
        with self._cond:
            while True:
                if self.error is not None:
                    raise self.error
                if self._head is not None and self._head >= target:
                    return self._head
                remaining = deadline - time.monotonic()
                if remaining <= 0:
                    raise TimeoutError(
                        f"head did not reach {target} within {timeout_s}s "
                        f"(at {self._head})"
                    )
                self._cond.wait(timeout=remaining)

    def stop(self) -> None:
        """Stop the feed and wait for the poll thread to exit.

        The join allowance covers one in-flight RPC: the thread may be
        blocked inside ``block_number()`` for up to the fetcher's HTTP
        timeout, and joining for less would return with the thread still
        alive — free to set ``error`` or hit the endpoint once more after
        the caller believes the feed released it. On the push transport
        the socket is closed from here, which unblocks a feed thread
        parked inside ``recv_text``."""
        with self._cond:
            self._stopped = True
            ws = self._ws
            self._cond.notify_all()
        if ws is not None:
            ws.close()
        self._thread.join(timeout=self._fetcher.timeout_s + 1.0)
