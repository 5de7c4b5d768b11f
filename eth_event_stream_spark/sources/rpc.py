"""HTTP JSON-RPC transport for the ``eth_logs`` source.

The reference's actual I/O layer, re-expressed for Spark executors:

- ``eth_getLogs`` with a server-side filter on address + topic0 over a
  closed block range (/root/reference/eth_event_stream/src/stream.rs:94-102
  builds the filter, stream.rs:159-183 issues the call);
- the chain head via ``eth_blockNumber`` — the pull-based stand-in for the
  WebSocket ``newHeads`` subscription (data_feed/block.rs:22-68). A Spark
  micro-batch trigger polls ``latestOffset()`` anyway, so a poll is the
  natural shape here; the push feed adds nothing on this execution model.

stdlib-only (urllib): executors need no extra packages, and the fetcher is
constructed per read task (it is cheap and carries no sockets across pickle).

Error taxonomy mirrors the S6 retry contract (stream.rs:148-155): transport
failures that can heal — connection refused/reset, timeouts, HTTP 5xx — are
``TransientRpcError`` and get retried with exponential backoff by the
caller; protocol failures that cannot — HTTP 4xx, a JSON-RPC ``error``
object, malformed responses — are ``RpcError`` and fail fast.
"""

from __future__ import annotations

import json
import urllib.error
import urllib.request


class RpcError(Exception):
    """Deterministic protocol failure — surfaced immediately, never retried."""


class TransientRpcError(RpcError):
    """Transport failure that may heal (connection, timeout, HTTP 5xx)."""


class JsonRpcLogFetcher:
    """Minimal Ethereum JSON-RPC client for log ingestion."""

    def __init__(self, url: str, timeout_s: float = 10.0):
        self.url = url
        self.timeout_s = timeout_s

    def _call(self, method: str, params: list):
        body = json.dumps(
            {"jsonrpc": "2.0", "id": 1, "method": method, "params": params}
        ).encode()
        req = urllib.request.Request(
            self.url, data=body, headers={"Content-Type": "application/json"}
        )
        try:
            with urllib.request.urlopen(req, timeout=self.timeout_s) as resp:
                payload = json.load(resp)
        except urllib.error.HTTPError as e:
            if e.code >= 500:
                raise TransientRpcError(f"{method}: HTTP {e.code}") from e
            raise RpcError(f"{method}: HTTP {e.code}") from e
        except (urllib.error.URLError, TimeoutError, ConnectionError, OSError) as e:
            raise TransientRpcError(f"{method}: {e}") from e
        except json.JSONDecodeError as e:
            raise RpcError(f"{method}: malformed JSON response") from e
        if not isinstance(payload, dict):
            raise RpcError(f"{method}: non-object response")
        if payload.get("error") is not None:
            raise RpcError(f"{method}: node error {payload['error']!r}")
        return payload.get("result")

    def block_number(self) -> int:
        """Chain head — the S5 block feed, pull form."""
        result = self._call("eth_blockNumber", [])
        # a null/missing/malformed result must surface through the RpcError
        # taxonomy (deterministic protocol failure), not a raw TypeError that
        # bypasses the transient/deterministic classification
        if not isinstance(result, str):
            raise RpcError(f"eth_blockNumber: non-hex result {result!r}")
        try:
            return int(result, 16)
        except ValueError as e:
            raise RpcError(f"eth_blockNumber: non-hex result {result!r}") from e

    def get_logs(
        self,
        from_block: int,
        to_block: int,
        address: str | None = None,
        topic0: str | None = None,
    ) -> list[tuple]:
        """``eth_getLogs`` over the INCLUSIVE [from_block, to_block] range
        for one (address, topic0) pair, returning rows in ETH_LOG_SCHEMA
        column order. The ``eth_logs`` source makes one call per pair per
        chunk. The filter is evaluated node-side (the reference's
        server-side split, SURVEY §4); callers re-check client-side so the
        source's match contract holds regardless of node case behavior."""
        flt: dict = {"fromBlock": hex(from_block), "toBlock": hex(to_block)}
        if address is not None:
            flt["address"] = address
        if topic0 is not None:
            flt["topics"] = [topic0]
        logs = self._call("eth_getLogs", [flt])
        if not isinstance(logs, list):
            raise RpcError("eth_getLogs: non-list result")
        return [self._to_row(lg) for lg in logs]

    @staticmethod
    def _to_row(lg: dict) -> tuple:
        """One JSON log object -> (address, topics, data, block_number,
        log_index, transaction_hash, removed) — ETH_LOG_SCHEMA order."""
        data_hex = lg.get("data") or "0x"
        return (
            lg["address"],
            list(lg.get("topics") or []),
            bytes.fromhex(data_hex[2:]),
            int(lg["blockNumber"], 16),
            int(lg["logIndex"], 16),
            lg.get("transactionHash"),
            bool(lg.get("removed", False)),
        )
