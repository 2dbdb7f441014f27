"""Stub Ethereum JSON-RPC node: the benchmark's load generator.

Runs as its own single-threaded process and serves one seeded chain
(``chain.py``) over HTTP:

- ``eth_chainId``, ``eth_getBlockByNumber``, ``eth_getBlockByHash`` and
  ``eth_getLogs`` (by range or by block hash, for the workload filter);
- a range query whose result count exceeds 10,000 gets the exact error
  message a real node sends, which the program maps to its
  too-much-data error;
- every response body is serialized once at start-up, so a request costs
  a lookup and a join, whatever the client does.

The node also runs the chain's live schedule: after
``bench_start(t0)`` it produces blocks and forks at ``t0 + at`` on the
shared monotonic clock. The chain a request sees is a pure function of
the seed and the clock, so a slow client does not slow the chain.
Each event records how late the node applied it.

Control methods: ``bench_start [t0]``, ``bench_freeze`` (stop the
schedule; returns the number of events applied), ``bench_stats`` and
``bench_shutdown``.

    python3 perfbench/node.py --seed 1 --seconds 40

It prints ``PORT <n>`` once it listens on 127.0.0.1.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import socketserver
import sys
import time
from http.server import BaseHTTPRequestHandler

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import chain as chainmod  # noqa: E402

TOO_MUCH_DATA = {"code": -32005, "message": "query returned more than 10000 results"}


def _log_json(lg: dict) -> str:
    return json.dumps(
        {
            "address": lg["address"],
            "topics": lg["topics"],
            "data": "0x" + lg["data"].hex(),
            "blockNumber": hex(lg["block_num"]),
            "blockHash": lg["block_hash"],
            "transactionHash": lg["tx_hash"],
            "transactionIndex": hex(lg["tx_index"]),
            "logIndex": hex(lg["log_index"]),
            "removed": False,
        },
        separators=(",", ":"),
    )


class Node:
    def __init__(self, chain: chainmod.Chain) -> None:
        self.chain = chain
        self.canonical: list[chainmod.Block] = list(chain.prefix)
        self.by_hash = {b.hash: b for b in chain.prefix}
        self.header_json: dict[str, str] = {}
        self.match_json: dict[str, list[str]] = {}  # the workload filter's logs
        for b in chain.prefix:
            self._prepare(b)
        for ev in chain.schedule:
            for b in ev.blocks if isinstance(ev, chainmod.Fork) else (ev,):
                self._prepare(b)
        self.filter_key = (tuple(sorted(chain.addresses)), chain.topics)
        self.t0: float | None = None
        self.applied = 0
        self.frozen = False
        self.late_ms: list[float] = []
        self.blocks_made = 0
        self.forks_made = 0
        self.running = True

    def _prepare(self, b: chainmod.Block) -> None:
        self.header_json[b.hash] = json.dumps(
            {
                "number": hex(b.number),
                "hash": b.hash,
                "parentHash": b.parent_hash,
                "timestamp": hex(int(b.at or 0)),
                "scheduledAt": b.at,
            },
            separators=(",", ":"),
        )
        self.match_json[b.hash] = [_log_json(lg) for lg in b.logs if self.chain.matches(lg)]

    # -- schedule ------------------------------------------------------------
    def apply_due(self) -> None:
        if self.t0 is None or self.frozen:
            return
        sched = self.chain.schedule
        while self.applied < len(sched):
            ev = sched[self.applied]
            due = self.t0 + ev.at
            now = time.monotonic()
            if due > now:
                return
            if isinstance(ev, chainmod.Fork):
                del self.canonical[-ev.depth :]
                self.canonical.extend(ev.blocks)
                self.by_hash.update((b.hash, b) for b in ev.blocks)
                self.forks_made += 1
            else:
                self.canonical.append(ev)
                self.by_hash[ev.hash] = ev
                self.blocks_made += 1
            self.late_ms.append((now - due) * 1e3)
            self.applied += 1

    def next_due(self) -> float | None:
        if self.t0 is None or self.frozen or self.applied >= len(self.chain.schedule):
            return None
        return self.t0 + self.chain.schedule[self.applied].at

    # -- JSON-RPC ------------------------------------------------------------
    def _block_by_number(self, tag: str) -> str:
        if tag == "latest":
            return self.header_json[self.canonical[-1].hash]
        n = 0 if tag == "earliest" else int(tag, 16)
        if 0 <= n < len(self.canonical):
            return self.header_json[self.canonical[n].hash]
        return "null"

    def _check_filter(self, q: dict) -> None:
        addresses = q.get("address") or []
        if isinstance(addresses, str):
            addresses = [addresses]
        if (tuple(sorted(addresses)), tuple(q.get("topics") or ())) != self.filter_key:
            raise ValueError("this node serves only the workload filter")

    def _get_logs(self, q: dict) -> str | dict:
        self._check_filter(q)
        if "blockHash" in q:
            if q["blockHash"] not in self.by_hash:
                return "[]"
            return "[" + ",".join(self.match_json[q["blockHash"]]) + "]"
        lo = int(q["fromBlock"], 16)
        hi = min(int(q["toBlock"], 16), len(self.canonical) - 1)
        parts = [self.match_json[self.canonical[n].hash] for n in range(lo, hi + 1)]
        if sum(map(len, parts)) > chainmod.RESULT_CAP:
            return TOO_MUCH_DATA
        return "[" + ",".join(j for p in parts for j in p) + "]"

    def call(self, method: str, params: list) -> str | dict:
        """The JSON text of the result, or an error object."""
        if method == "eth_chainId":
            return json.dumps(hex(chainmod.CHAIN_ID))
        if method == "eth_getBlockByNumber":
            return self._block_by_number(params[0])
        if method == "eth_getBlockByHash":
            b = self.by_hash.get(params[0])
            return self.header_json[b.hash] if b else "null"
        if method == "eth_getLogs":
            return self._get_logs(params[0])
        if method == "bench_start":
            self.t0 = float(params[0])
            return "true"
        if method == "bench_freeze":
            self.frozen = True
            return json.dumps(self.applied)
        if method == "bench_stats":
            late = sorted(self.late_ms)
            p99 = late[min(len(late) - 1, int(0.99 * len(late)))] if late else 0.0
            return json.dumps(
                {
                    "late_ms_p99": p99,
                    "blocks": self.blocks_made,
                    "forks": self.forks_made,
                    "applied": self.applied,
                }
            )
        if method == "bench_shutdown":
            self.running = False
            return "true"
        return {"code": -32601, "message": f"method not found: {method}"}


def serve(node: Node) -> None:
    class Handler(BaseHTTPRequestHandler):
        def do_POST(self) -> None:  # noqa: N802
            body = json.loads(self.rfile.read(int(self.headers["Content-Length"])))
            node.apply_due()
            try:
                res = node.call(body["method"], body.get("params") or [])
            except (KeyError, IndexError, ValueError) as e:
                res = {"code": -32602, "message": f"invalid params: {e}"}
            rid = json.dumps(body.get("id"))
            if isinstance(res, dict):
                out = '{"jsonrpc":"2.0","id":%s,"error":%s}' % (rid, json.dumps(res))
            else:
                out = '{"jsonrpc":"2.0","id":%s,"result":%s}' % (rid, res)
            data = out.encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)

        def log_message(self, *args) -> None:
            pass

    parent = os.getppid()
    socketserver.TCPServer.allow_reuse_address = True
    with socketserver.TCPServer(("127.0.0.1", 0), Handler) as server:
        print(f"PORT {server.server_address[1]}", flush=True)
        while node.running and os.getppid() == parent:
            node.apply_due()
            due = node.next_due()
            server.timeout = 0.5 if due is None else min(0.5, max(0.0, due - time.monotonic()))
            server.handle_request()


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True, help="live schedule length")
    a = ap.parse_args()
    node = Node(chainmod.full_chain(a.seed, a.seconds))
    gc.freeze()  # start-up data never becomes garbage; keep collections short
    serve(node)


if __name__ == "__main__":
    main()
