"""Shared pieces of the benchmark: the stub-node process, the memory
sampler and small helpers."""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import urllib.request
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = HERE / "out"
TMP = OUT / "tmp"


class NodeProc:
    """The stub JSON-RPC node, in its own process."""

    def __init__(self, *args: str) -> None:
        """Start the node; it builds its chain while the caller goes on."""
        self.proc = subprocess.Popen(
            [sys.executable, str(HERE / "node.py"), *args], stdout=subprocess.PIPE, text=True
        )
        self.url = ""

    def ready(self) -> "NodeProc":
        """Wait until the node listens."""
        line = self.proc.stdout.readline()
        if not line.startswith("PORT "):
            self.close()
            raise RuntimeError(f"stub node failed to start: {line!r}")
        self.url = f"http://127.0.0.1:{int(line.split()[1])}"
        return self

    def call(self, method: str, *params):
        req = urllib.request.Request(
            self.url,
            data=json.dumps({"jsonrpc": "2.0", "id": 0, "method": method, "params": list(params)}).encode(),
            headers={"Content-Type": "application/json"},
        )
        with urllib.request.urlopen(req, timeout=10) as resp:
            return json.loads(resp.read())["result"]

    def close(self) -> None:
        if self.proc.poll() is None:
            self.proc.terminate()
        try:
            self.proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()
        self.proc.stdout.close()


class TreeRss:
    """Peak resident memory of this process and all its descendants (the
    node, the JVM and its Python workers), sampled from /proc until
    :meth:`stop`. Each process counts its proportional set size, so pages
    that forked Python workers share are counted once, however many
    workers are alive. Workloads stop it when measuring ends, so the
    memory the correctness checks use is not counted, and pause it for
    work that only per-layer metrics cover."""

    def __init__(self, interval: float = 0.5) -> None:
        self.interval = interval
        self.peak = 0
        self.paused = False  # while set, samples are skipped
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def sample(self) -> None:
        parent: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as fh:
                        parent[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    pass
        tree, todo = set(), [os.getpid()]
        while todo:
            pid = todo.pop()
            tree.add(pid)
            todo.extend(c for c, p in parent.items() if p == pid and c not in tree)
        total = 0
        for pid in tree:
            try:
                with open(f"/proc/{pid}/smaps_rollup") as fh:
                    total += next(int(ln.split()[1]) for ln in fh if ln.startswith("Pss:")) * 1024
            except (OSError, IndexError, ValueError, StopIteration):
                pass
        self.peak = max(self.peak, total)

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            if not self.paused:
                self.sample()

    def stop(self) -> float:
        """Peak in MiB; sampling ends at the first call."""
        if not self._stop.is_set():
            self._stop.set()
            self._thread.join()
            self.sample()
        return self.peak / 2**20


def cpu_times() -> list[int]:
    """The host's CPU time counters (user, nice, system, idle, iowait, irq,
    softirq, steal), from /proc/stat."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def quantile(vals: list[float], q: float) -> float:
    """Nearest-rank quantile."""
    s = sorted(vals)
    return s[max(0, min(len(s) - 1, int(-(-q * len(s) // 1)) - 1))]


def fresh_dir(name: str) -> Path:
    d = TMP / name
    shutil.rmtree(d, ignore_errors=True)
    d.mkdir(parents=True)
    return d


def median_setup(k: int, step):
    """Run ``step()`` ``k`` times, closing each result (its last item) before
    the next step starts; keep the last result and return (result, median
    seconds)."""
    times, keep = [], None
    for _ in range(k):
        if keep is not None:
            keep[-1]()
        t0 = time.perf_counter()
        keep = step()
        times.append(time.perf_counter() - t0)
    return keep, statistics.median(times)


def log_rows(rows) -> list[tuple]:
    """Comparable log rows: every column but ``indx``, in entry order."""
    return [
        (r["block_num"], r["block_hash"], r["tx_index"], r["log_index"], r["tx_hash"],
         r["address"], tuple(r["topics"]), bytes(r["data"]))
        for r in rows
    ]


def entry_disk(entry) -> tuple[int, int]:
    files = [p for p in Path(entry.path).rglob("*.parquet")]
    return len(files), sum(p.stat().st_size for p in files)
