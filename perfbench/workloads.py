"""The two workloads, their correctness checks and their per-layer
instrumentation.

Both workloads measure the same tracker journey on the same seeded chain
and report the same end-to-end metrics:

1. backfill: ``Tracker.sync()`` over JSON-RPC from an empty store to the
   chain's tip, repeated, each time with a new store;
2. head: the node starts its live schedule of blocks and forks, and the
   tracker of the last sync ``poll()``s it on a fixed grid, passing every
   event to ``pipeline.append_changelog``.

``tracker_only`` runs nothing else. ``with_spark`` also starts a Spark
session in every set-up and, before the measured phases, runs one
iterative registry entry and one Spark-path sync (``web3logs`` source,
then ``append_df``) for the per-layer metrics of ``session``,
``queries``, ``operators`` and the bulk path; the session stops before
the measured phases.

End-to-end numbers are measured with no wrapper installed; with ``trace``
on, the benchmark wraps the public methods of the provider, store, entry
and tracker it builds (and the tracker module's ``reconcile`` name) and
derives the per-layer metrics from the recorded spans.
"""

from __future__ import annotations

import gc
import json
import math
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import chain as chainmod
from harness import OUT, ROOT, TMP, NodeProc, TreeRss, entry_disk, fresh_dir, log_rows, median_setup, quantile
from spans import Tracer

from eth_event_tracker_spark.config import FilterConfig
from eth_event_tracker_spark.sources.mock_chain import TooMuchDataError
from eth_event_tracker_spark.sources.rpc_provider import JsonRpcProvider
from eth_event_tracker_spark.store import ParquetStore
from eth_event_tracker_spark.streaming import Tracker, pipeline
from eth_event_tracker_spark.streaming import tracker as tracker_module

SETUP_REPEATS = 3  # set-ups per run; setup_s is the median
WARMUP_SYNCS = 1  # untimed syncs before the backfill phase
MIN_TIMED_SYNCS = 3  # the backfill phase runs at least this many syncs

# head phase: poll interval and how long the schedule runs past the phase
POLL_INTERVAL_S = 0.005
HEAD_SLACK_S = 10.0
GEN_LATE_LIMIT_MS = 20.0  # a run whose node applied events later than this is invalid

# with_spark phase 0: an iterative-loop registry entry, at the
# committed sf0.01 fixtures, with their oracle-checked row counts
SF_DIR = ROOT / "perfbench" / "data" / "sf0.01"
ROW_COUNTS = ROOT / "perfbench" / "data" / "rows_sf0.01.json"
ANALYTICS = ("bfs_hops_cosupply",)
RPC_METHODS = ("get_logs", "get_logs_by_hash", "get_block_by_number", "get_block_by_hash", "latest")


def metric_names(kind: str) -> list[tuple[str, str]]:
    """Every metric of ``kind`` (``end_to_end`` or ``per_layer``), with its
    unit, in BENCHMARK.json's order."""
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    return [(m["name"], m["unit"]) for m in bench[kind]]


@dataclass
class Result:
    e2e: dict = field(default_factory=dict)  # name -> (value, unit)
    layer: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    failures: list = field(default_factory=list)
    info: dict = field(default_factory=dict)
    spark_cores: int = 0

    def op(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)


class Probe:
    """Per-layer instrumentation for one traced run."""

    def __init__(self, tracer: Tracer) -> None:
        self.t = tracer
        self.c = tracer.counts
        self.reorg_polls: list[int] = []  # span ids of polls that retracted blocks
        self.in_poll = False
        orig = tracker_module.reconcile

        def reconcile(window, incoming, get_block_by_hash):
            diff = self.t.span("reorg.reconcile", orig, window, incoming, get_block_by_hash)
            if diff.removed:
                self.c["reorg.removed_blocks"] += len(diff.removed)
                self.c["reorg.depth_max"] = max(self.c["reorg.depth_max"], len(diff.removed))
            return diff

        tracker_module.reconcile = reconcile
        self._restore = lambda: setattr(tracker_module, "reconcile", orig)

    def attach(self, tr) -> None:
        """Wrap the provider, store, entry and tracker of ``tr``."""
        prov, c = tr.provider, self.c

        def on_error(e):
            c["sources.rpc.too_much_data" if isinstance(e, TooMuchDataError) else "sources.rpc.errors"] += 1

        for m in RPC_METHODS:
            self.t.wrap(prov, m, f"sources.rpc.{m}", on_error=on_error)

        def lag(head):  # head minus committed tail, as each poll starts
            if self.in_poll and tr.window.blocks:
                c["streaming.tracker.lag_blocks_max"] = max(
                    c["streaming.tracker.lag_blocks_max"], head.number - tr.window.blocks[-1].number
                )

        latest = prov.latest
        prov.latest = lambda: _after(latest(), lag)

        self.t.wrap(tr.store, "set", "store.kv_set")
        entry = tr.entry
        self.t.wrap(entry, "store_logs", "store.store_logs",
                    after=lambda rows: c.__setitem__("store.store_logs.rows", c["store.store_logs.rows"] + len(rows)))
        self.t.wrap(entry, "scan_tail", "store.scan_tail")
        self.t.wrap(entry, "append_df", "store.append_df")
        remove_logs = entry.remove_logs

        def traced_remove_logs(indx):
            before = entry.last_index()
            self.t.span("store.remove_logs", remove_logs, indx)
            c["store.remove_logs.rows"] += max(0, before - indx)

        entry.remove_logs = traced_remove_logs
        self.t.wrap(tr, "sync", "streaming.tracker.sync")
        poll = tr.poll

        def traced_poll():
            sid = len(self.t.spans)
            before = c["reorg.removed_blocks"]
            self.in_poll = True
            try:
                evs = self.t.span("streaming.tracker.poll", poll)
            finally:
                self.in_poll = False
            if c["reorg.removed_blocks"] > before:
                self.reorg_polls.append(sid)
            return evs

        tr.poll = traced_poll

    def close(self) -> None:
        self._restore()

    def metrics(self, extra: dict) -> dict:
        """All per-layer metrics; layers this run did not touch read 0."""
        spans = self.t.by_name()
        vals: dict[str, float] = {}
        for name, d in spans.items():
            vals[f"{name}.calls"] = d["calls"]
            vals[f"{name}.busy_s"] = d["busy_s"]
            vals[f"{name}.self_s"] = d["self_s"]
        vals.update(self.c)
        calls = vals.get("sources.rpc.get_logs.calls", 0)
        vals["sources.rpc.get_logs.useful_ratio"] = (
            (calls - vals.get("sources.rpc.too_much_data", 0)) / calls if calls else 0.0
        )
        busy = accounted = 0.0
        for sid in self.reorg_polls:
            parts = self.t.subtree(sid)
            busy += sum(parts.values())
            accounted += sum(v for k, v in parts.items() if k.startswith(
                ("store.scan_tail", "store.remove_logs", "reorg.", "sources.rpc.", "streaming.tracker.poll")))
        vals["trace.reorg_poll.busy_s"] = busy
        vals["trace.reorg_poll.accounted_ratio"] = accounted / busy if busy else 0.0
        vals.update(extra)
        return {n: (float(vals.get(n, 0.0)), u) for n, u in metric_names("per_layer")}


def _after(value, fn):
    fn(value)
    return value


def _check_entry(res: Result, entry, expected: list, what: str) -> None:
    rows = entry.all_logs()
    ok = [r["indx"] for r in rows] == list(range(len(rows))) and log_rows(rows) == log_rows(expected)
    res.op(ok, f"{what}: {len(rows)} rows vs {len(expected)} expected, indx consecutive and equal")


def _key(r) -> tuple:
    return (r["block_hash"], r["tx_index"], r["log_index"])


def dump_file_chain(chain: chainmod.Chain, d) -> None:
    """Write ``chain``'s prefix in the file-chain layout the ``web3logs``
    source reads."""
    def rec(b):
        logs = [{**lg, "data": lg["data"].hex()} for lg in b.logs]
        return json.dumps({"number": b.number, "hash": b.hash, "parent_hash": b.parent_hash, "logs": logs})

    lines = "\n".join(rec(b) for b in chain.prefix) + "\n"
    (d / "blocks.jsonl").write_text(lines)
    (d / "by_hash.jsonl").write_text(lines)
    (d / "meta.json").write_text(json.dumps({"chain_id": chainmod.CHAIN_ID, "genesis": chain.prefix[0].hash}))


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit, so the next session
    launches a JVM of its own and no process outlives the run."""
    from pyspark import SparkContext

    if SparkContext._gateway is None:
        return  # stopped already
    gateway = spark.sparkContext._gateway
    spark.stop()
    # the JVM exits when its stdin closes
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


class JobCounter:
    """Spark jobs, stages and tasks per job group, from the status tracker."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.st = sc.statusTracker()

    def run(self, group: str, fn):
        self.sc.setJobGroup(group, group)
        try:
            return fn()
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def count(self, group: str) -> tuple[int, int, int]:
        jobs = self.st.getJobIdsForGroup(group)
        stages = tasks = 0
        for j in jobs:
            info = self.st.getJobInfo(j)
            for s in info.stageIds if info else ():
                stages += 1
                si = self.st.getStageInfo(s)
                tasks += si.numTasks if si else 0
        return len(jobs), stages, tasks


def run_workload(name: str, seed: int, seconds: float, trace: int, run_id: str, rss: TreeRss) -> Result:
    """Run one workload; ``rss`` samples peak memory until measuring ends."""
    use_spark = name == "with_spark"
    res = Result()
    tracer = Tracer(run_id) if trace else None
    probe = Probe(tracer) if trace else None
    base = chainmod.base(seed)
    cfg = FilterConfig(addresses=base.addresses, topics=base.topics)
    backfill_s = seconds / 2
    head_s = seconds - backfill_s
    live_s = head_s + HEAD_SLACK_S
    extra: dict = {}
    get_spark_s: list[float] = []
    live = [False]
    head_tr: list = [None]
    committed: dict[str, float] = {}  # block hash -> when on_progress reported it

    def on_progress(_p) -> None:
        if live[0]:
            now = time.monotonic()
            for b in head_tr[0].window.blocks:
                if b.hash not in committed:
                    committed[b.hash] = now

    def start():
        # node start, then (with_spark) the file chain for the web3logs
        # source and the Spark session, then the program's set-up against
        # the node: store, tracker and the chain fingerprint check
        node = NodeProc("--seed", str(seed), "--seconds", str(live_s))
        spark = chain_dir = None
        try:
            if use_spark:
                from eth_event_tracker_spark.session import get_spark

                chain_dir = fresh_dir("chain")
                dump_file_chain(chainmod.backfill_chain(seed), chain_dir)
                t = time.perf_counter()
                spark = get_spark("perfbench")
                get_spark_s.append(time.perf_counter() - t)
                spark.sparkContext.setLogLevel("ERROR")
            node.ready()
            tr = Tracker(JsonRpcProvider(node.url), ParquetStore(fresh_dir("setup")), cfg,
                         on_progress=on_progress, spark=spark, chain_dir=chain_dir and str(chain_dir))
            tr.pre_sync_check()
        except BaseException:
            if spark is not None:
                stop_spark(spark)
            node.close()
            raise

        def close():
            if spark is not None:
                stop_spark(spark)
            node.close()

        return node, spark, chain_dir, tr, close

    marks = [("start", time.perf_counter())]
    (node, spark, chain_dir, tr, close), setup_s = median_setup(SETUP_REPEATS, start)
    marks.append(("setup", time.perf_counter()))
    try:
        jobs = JobCounter(spark.sparkContext) if (spark is not None and trace) else None
        if spark is not None:
            res.spark_cores = spark.sparkContext.defaultParallelism
            extra["session.get_spark_s"] = statistics.median(get_spark_s)

        def run(group, fn):
            return jobs.run(group, fn) if jobs else fn()

        # -- phase 0 (with_spark), per layer: one registry entry, then one
        # cold Spark-path sync (web3logs -> append_df) with the tracker set
        # up above; the session stops before the measured phases
        spark_entry = None
        if spark is not None:
            # its JVM heap grew by a different amount in every run (2.5 to
            # 3.7 GB), so peak memory leaves this phase out
            rss.paused = True
            from eth_event_tracker_spark.queries import REGISTRY, _load

            _load()
            want = json.loads(ROW_COUNTS.read_text())
            totals = [0, 0, 0]
            for q in ANALYTICS:
                fn = REGISTRY[q].fn
                t = time.perf_counter()
                try:
                    rows = run(q, lambda fn=fn: fn(spark, str(SF_DIR)).count())
                except Exception as e:
                    res.op(False, f"{q} raised {e!r}")
                    continue
                extra[f"queries.{q}.s"] = time.perf_counter() - t
                res.op(rows == want[q], f"{q}: {rows} rows, {want[q]} expected")
                if jobs:
                    c = jobs.count(q)
                    totals = [x + y for x, y in zip(totals, c)]
                    extra[f"queries.{q}.jobs"] = c[0]
            extra.update({"spark.iterative.jobs": totals[0], "spark.iterative.stages": totals[1],
                          "spark.iterative.tasks": totals[2]})
            if probe:
                probe.attach(tr)
            t = time.perf_counter()
            try:
                run("backfill", tr.sync)
                extra["spark_backfill_logs_per_s"] = tr.entry.last_index() / (time.perf_counter() - t)
                res.op(True, "spark-path sync")
                spark_entry = tr.entry
            except Exception as e:
                res.op(False, f"spark-path sync raised {e!r}")
            if jobs:
                c = jobs.count("backfill")
                extra.update({"spark.backfill.jobs": c[0], "spark.backfill.stages": c[1],
                              "spark.backfill.tasks": c[2]})
            stop_spark(spark)
            rss.paused = False
            tr = None
        marks.append(("spark", time.perf_counter()))

        # -- phase 1: backfill, sync() from an empty store, repeated ---------
        # the expected rows are built after measuring, so the runner holds
        # no chain while the program is timed
        rates: list[float] = []  # logs committed / sync() seconds, per timed sync
        counts: list[int] = []
        first = None
        k = 0
        t_end = math.inf
        while True:
            if tr is None:
                store = ParquetStore(fresh_dir("sync-first" if k == 0 else f"sync-{k % 2}"))
                tr = Tracker(JsonRpcProvider(node.url), store, cfg, on_progress=on_progress)
            if probe:
                probe.attach(tr)
            t0 = time.perf_counter()
            try:
                tr.sync()
            except Exception as e:  # an RPC error after the tracker's retries
                res.op(False, f"sync raised {e!r}")
                break
            dt = time.perf_counter() - t0
            res.op(True, "sync")
            k += 1
            if k > WARMUP_SYNCS:
                rates.append(tr.entry.last_index() / dt)
                counts.append(tr.entry.last_index())
            else:
                first = first or tr  # its entry gets the full check
                t_end = time.perf_counter() + backfill_s
            if time.perf_counter() >= t_end and len(rates) >= MIN_TIMED_SYNCS:
                break
            tr = None
        marks.append(("backfill", time.perf_counter()))

        # -- phase 2: head, poll() the live schedule on a fixed grid ---------
        # the tracker of the last sync follows the head
        head_tr[0] = tr
        changelog = tr.store.changelog_entry(cfg.filter_hash)
        base_keys = [_key(r) for r in tr.entry.all_logs()]
        append = pipeline.append_changelog
        if probe:
            def append(entry, ev, _inner=pipeline.append_changelog):
                tracer.span("streaming.pipeline.append_changelog", _inner, entry, ev)

        removed_at: dict[str, float] = {}  # block hash -> when poll() first retracted its rows
        poll_busy = 0.0
        polls = 0

        def poll_once() -> None:
            nonlocal poll_busy, polls
            t_call = time.monotonic()
            try:
                evs = tr.poll()
            except Exception as e:  # RPC error after retries, or ReorgTooDeepError
                res.op(False, f"poll raised {e!r}")
                return
            t_ret = time.monotonic()
            poll_busy += t_ret - t_call
            polls += 1
            for ev in evs:
                append(changelog, ev)
                for r in ev.removed:
                    removed_at.setdefault(r["block_hash"], t_ret)

        # the runner and the node share one CPU for this phase: their calls
        # alternate, and one CPU takes a cross-CPU wake-up out of every RPC,
        # whose cost varied from run to run and set the head latency's spread
        cpus = os.sched_getaffinity(0)
        one = {max(cpus)}
        gc.collect()
        os.sched_setaffinity(0, one)
        os.sched_setaffinity(node.proc.pid, one)
        try:
            t0 = time.monotonic() + 0.05
            node.call("bench_start", t0)
            live[0] = True
            # polls run on a fixed grid, half an interval off the block
            # times, so a block waits the same for its poll in every run;
            # ticks that pass while a poll runs are skipped
            t_stop = t0 + head_s
            tick = 0
            while True:
                now = time.monotonic()
                if now >= t_stop:
                    break
                nxt = t0 + (tick + 0.5) * POLL_INTERVAL_S
                if nxt > now:
                    time.sleep(nxt - now)
                poll_once()
                tick = max(tick + 1, math.floor((time.monotonic() - t0) / POLL_INTERVAL_S - 0.5) + 1)
            wall = time.monotonic() - t0
            applied = node.call("bench_freeze")
            head = node.call("eth_getBlockByNumber", "latest", False)["hash"]
            for _ in range(100):  # drain to the frozen head
                if tr.window.blocks and tr.window.blocks[-1].hash == head:
                    break
                poll_once()
            live[0] = False
        finally:
            os.sched_setaffinity(0, cpus)
        rss.stop()  # peak memory covers set-up and both phases, not the checks
        marks.append(("head", time.perf_counter()))
        res.attempted += polls
        gen = node.call("bench_stats")
        extra.update({"gen.late_ms_p99": gen["late_ms_p99"], "gen.blocks": gen["blocks"],
                      "gen.reorgs": gen["forks"], "streaming.tracker.idle_s": wall - poll_busy})
        extra["store.files"], extra["store.bytes"] = entry_disk(tr.entry)

        # -- metrics ---------------------------------------------------------
        chain = chainmod.full_chain(seed, live_s)
        head_lat, orphaned_by, fork_at = [], {}, {}
        canon = list(chain.prefix[-chainmod.FORK_DEPTH_MAX - 1 :])
        for i, ev in enumerate(chain.schedule):
            if isinstance(ev, chainmod.Fork):
                fork_at[i] = ev.at
                for b in canon[-ev.depth :]:
                    orphaned_by[b.hash] = i
                canon = canon[: -ev.depth] + list(ev.blocks)
            else:
                if ev.hash in committed:
                    head_lat.append((committed[ev.hash] - (t0 + ev.at)) * 1e3)
                canon.append(ev)
            canon = canon[-chainmod.FORK_DEPTH_MAX - 1 :]
        reorg_t: dict[int, float] = {}
        for h, t in removed_at.items():
            f = orphaned_by.get(h)
            if f is not None:
                reorg_t[f] = min(t, reorg_t.get(f, t))
        reorg_lat = [(t - (t0 + fork_at[f])) * 1e3 for f, t in reorg_t.items()]
        if rates:
            # median over the timed syncs; the warm-up syncs are left out
            res.e2e["backfill_logs_per_s"] = (statistics.median(rates), "logs/s")
        if head_lat and reorg_lat:
            res.e2e["head_latency_p50_ms"] = (statistics.median(head_lat), "ms")
            res.e2e["reorg_latency_p50_ms"] = (statistics.median(reorg_lat), "ms")
            # too few samples for a bounded tail metric; recorded for reading only
            res.info.update(head_latency_p99_ms=quantile(head_lat, 0.99),
                            reorg_latency_p90_ms=quantile(reorg_lat, 0.90))
        res.info.update(syncs=k, timed_syncs=len(rates), rates=rates, head_samples=len(head_lat),
                        reorg_samples=len(reorg_lat), gen=gen, polls=polls, poll_busy_s=poll_busy,
                        head_wall_s=wall)

        # -- checks ----------------------------------------------------------
        res.op(gen["late_ms_p99"] < GEN_LATE_LIMIT_MS, f"generator ran late: p99 {gen['late_ms_p99']:.2f} ms")
        # backfill: the first entry (and the Spark-path entry) equals the
        # canonical filtered logs of the prefix, every timed sync the count
        prefix = [lg for b in chain.prefix for lg in b.logs if chain.matches(lg)]
        if first is not None:
            _check_entry(res, first.entry, prefix, "backfill entry == canonical filtered logs")
        if spark_entry is not None:
            _check_entry(res, spark_entry, prefix, "Spark-path entry == canonical filtered logs")
        for i, n in enumerate(counts):
            res.op(n == len(prefix), f"timed sync {i + 1}: {n} rows, {len(prefix)} expected")
        # head: the entry equals the final canonical filtered logs, and the
        # entry as the phase began plus the changelog (adds minus removes)
        # gives the entry back
        final = chainmod.canonical_after(chain, applied)
        res.op(final[-1].hash == head, "node head == head of the replayed schedule")
        expected = [lg for b in final for lg in b.logs if chain.matches(lg)]
        _check_entry(res, tr.entry, expected, "head entry == final canonical filtered logs")
        live_rows = dict.fromkeys(base_keys, 1)
        for r in changelog.all_logs():
            key = _key(r)
            live_rows[key] = live_rows.get(key, 0) + (1 if r["change_type"] == "add" else -1)
        replay = {k for k, v in live_rows.items() if v > 0}
        bad = [v for v in live_rows.values() if v not in (0, 1)]
        res.op(not bad and replay == {_key(r) for r in expected}, "base entry + changelog replay == entry")
        del chain, final, prefix, expected, live_rows
        marks.append(("checks", time.perf_counter()))
        res.info["phase_s"] = {b[0]: round(b[1] - a[1], 2) for a, b in zip(marks, marks[1:])}
    finally:
        close()
        if probe:
            probe.close()
        shutil.rmtree(TMP, ignore_errors=True)
    res.e2e["setup_s"] = (setup_s, "s")
    if probe:
        res.layer = probe.metrics(extra)
        tracer.dump(OUT / f"trace-{run_id}.json")
    return res
