"""Model-based store fuzzing — the conformance analogue of the
reference's randomized tracker test (TestTrackerSyncerRandom,
/root/reference/tracker_test.go:369-482): random op sequences, with the
in-memory backend as the executable model and the durable backends
(parquet file layout, SQLite) required to agree after every step.

The golden conformance cases (test_store_conformance.py) pin known
shapes; this finds the unknown ones — interleavings of append /
tail-truncate / reopen that a fixed suite never enumerates (the round-3
empty-topics disagreement was exactly this class of bug).
"""

from __future__ import annotations

import tempfile
from pathlib import Path

from hypothesis import given, settings
from hypothesis import strategies as st

from eth_event_tracker_spark.sources.mock_chain import mock
from eth_event_tracker_spark.store import ParquetStore, SqlStore
from eth_event_tracker_spark.store.inmem_store import InMemStore

# an op is one of:
#   ("append", n_logs, topics_mode)   topics_mode: 0 normal, 1 empty, 2 none
#   ("truncate", frac)                remove_logs at frac * last_index
#   ("rollback", depth)               scan_tail over the last depth blocks,
#                                     then remove_logs (the tracker's reorg)
#   ("reopen",)                       durable stores must survive this
_OPS = st.lists(
    st.one_of(
        st.tuples(st.just("append"), st.integers(1, 6), st.integers(0, 2)),
        st.tuples(st.just("truncate"), st.floats(0.0, 1.0)),
        st.tuples(st.just("rollback"), st.integers(1, 4)),
        st.tuples(st.just("reopen")),
    ),
    min_size=1,
    max_size=12,
)


def _mk_logs(tag: int, n: int, num: int, topics_mode: int) -> list[dict]:
    b = mock(tag % 0xFF or 1).num(num)
    for i in range(n):
        b.log(f"{(tag % 0xFF or 1):x}{i:02x}")
    logs = b.logs()
    if topics_mode == 1:
        logs = [{**lg, "topics": []} for lg in logs]
    elif topics_mode == 2:
        logs = [{**lg, "topics": None} for lg in logs]
    return logs


def _cols(r: dict) -> tuple:
    return tuple(r[c] for c in ("indx", "tx_hash", "block_num", "block_hash", "topics", "data"))


def _run_ops(ops, make_store, reopen):
    store = make_store()
    entry = store.entry("f1", bucket_size=4)  # small buckets: force spans
    model = InMemStore()
    m_entry = model.entry("f1")
    blk = 0
    for step, op in enumerate(ops):
        if op[0] == "append":
            _, n, tmode = op
            blk += 1
            logs = _mk_logs(step + 1, n, blk, tmode)
            entry.store_logs([dict(lg) for lg in logs])
            m_entry.store_logs([dict(lg) for lg in logs])
        elif op[0] == "truncate":
            frac = op[1]
            at = int(m_entry.last_index() * frac)
            entry.remove_logs(at)
            m_entry.remove_logs(at)
        elif op[0] == "rollback":
            depth = op[1]
            got = entry.scan_tail(lambda r: r["block_num"] > blk - depth)
            want = m_entry.scan_tail(lambda r: r["block_num"] > blk - depth)
            assert [_cols(r) for r in got] == [_cols(r) for r in want], f"victims at step {step}"
            if want:
                entry.remove_logs(got[0]["indx"])
                m_entry.remove_logs(want[0]["indx"])
        else:  # reopen
            store, entry = reopen(store)
        assert entry.last_index() == m_entry.last_index(), f"last_index after step {step}"
        got, want = entry.all_logs(), m_entry.all_logs()
        assert len(got) == len(want), f"row count after step {step}"
        for g, w in zip(got, want):
            for col in ("indx", "tx_hash", "block_num", "block_hash", "topics", "data"):
                assert g[col] == w[col], f"{col} after step {step}: {g[col]!r} != {w[col]!r}"
        # point lookups agree at the edges
        for probe in {0, m_entry.last_index() - 1}:
            if probe >= 0:
                g1, w1 = entry.get_log(probe), m_entry.get_log(probe)
                assert (g1 is None) == (w1 is None)
                if g1 is not None:
                    assert g1["tx_hash"] == w1["tx_hash"]


@settings(max_examples=20, deadline=None)
@given(ops=_OPS)
def test_parquet_store_matches_inmem_model(ops):
    with tempfile.TemporaryDirectory() as tmp:

        def reopen(old):
            s = ParquetStore(Path(tmp))
            return s, s.entry("f1", bucket_size=4)

        _run_ops(ops, lambda: ParquetStore(Path(tmp)), reopen)


@settings(max_examples=20, deadline=None)
@given(ops=_OPS)
def test_sqlite_store_matches_inmem_model(ops):
    with tempfile.TemporaryDirectory() as tmp:
        db = Path(tmp) / "s.db"

        def reopen(old):
            old.close()
            s = SqlStore(db)
            return s, s.entry("f1")

        _run_ops(ops, lambda: SqlStore(db), reopen)


@settings(max_examples=10, deadline=None)
@given(ops=_OPS)
def test_jdbc_store_matches_inmem_model(ops, spark):
    """Same model-based fuzz over the JDBC backend (driver-side ops —
    the distributed append path has its own parity test).  Fewer
    examples: each one boots and deboots an embedded Derby database."""
    from .test_store_conformance import _derby_store

    with tempfile.TemporaryDirectory() as tmp:
        store = _derby_store(spark, Path(tmp))
        try:

            def reopen(old):
                return old, old.entry("f1")  # embedded db stays booted

            _run_ops(ops, lambda: store, reopen)
        finally:
            store.close()
