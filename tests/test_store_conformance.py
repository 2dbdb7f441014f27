"""Store conformance — semantic port of the reference's backend-agnostic
suite (/root/reference/store/testing.go:22-242, run against inmem/bolt/pg):
KV get/set/update, prefix listing, multi-entry isolation, append/index
monotonicity, truncate-then-reappend."""

from __future__ import annotations

import pytest

from eth_event_tracker_spark.sources.mock_chain import mock
from eth_event_tracker_spark.store import JdbcStore, ParquetStore, SqlStore
from eth_event_tracker_spark.store.inmem_store import InMemStore

DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


def _derby_store(spark, tmp_path) -> JdbcStore:
    try:
        spark._jvm.java.lang.Class.forName(DERBY_DRIVER)
    except Exception:
        pytest.skip("no embedded Derby jar on the Spark classpath")
    return JdbcStore(spark, f"jdbc:derby:{tmp_path}/derby;create=true", driver=DERBY_DRIVER)


@pytest.fixture(params=["parquet", "inmem", "sqlite", "jdbc"])
def make_store(request, tmp_path, spark):
    """Backend-agnostic store factory — the reference runs one suite
    against every backend (store/testing.go, against inmem/bolt/pg); so
    do we, against parquet/inmem/sqlite/jdbc-derby."""
    if request.param == "parquet":
        return lambda: ParquetStore(tmp_path)
    if request.param == "sqlite":
        return lambda s=SqlStore(tmp_path / "store.db"): s  # same db per test
    if request.param == "jdbc":
        s = _derby_store(spark, tmp_path)
        request.addfinalizer(s.close)
        return lambda: s
    return lambda s=InMemStore(): s  # same instance per test


def _logs(tag, n, num):
    b = mock(tag).num(num)
    for i in range(n):
        b.log(f"{tag:x}{i:02x}")
    return b.logs()


def test_kv_set_get_update(make_store):
    s = make_store()
    assert s.get("k1") is None
    s.set("k1", "v1")
    assert s.get("k1") == "v1"
    s.set("k1", "v2")  # upsert (postgresql_store.go:71-76 ON CONFLICT)
    assert s.get("k1") == "v2"


def test_kv_prefix_listing(make_store):
    s = make_store()
    for k, v in [("filter_a", "1"), ("filter_b", "2"), ("lastBlock_a", "3"), ("genesis", "4")]:
        s.set(k, v)
    got = s.list_prefix("filter_")
    assert got == [("filter_a", "1"), ("filter_b", "2")]
    assert s.list_prefix("nope") == []


def test_kv_persistence(tmp_path):
    ParquetStore(tmp_path).set("k", "v")
    assert ParquetStore(tmp_path).get("k") == "v"


def test_entry_append_monotonic(make_store):
    e = make_store().entry("f1")
    assert e.last_index() == 0
    e.store_logs(_logs(0x1, 3, 1))
    assert e.last_index() == 3
    e.store_logs(_logs(0x2, 2, 2))
    assert e.last_index() == 5
    assert [r["indx"] for r in e.all_logs()] == [0, 1, 2, 3, 4]


def test_entry_isolation(make_store):
    s = make_store()
    e1, e2 = s.entry("f1"), s.entry("f2")
    e1.store_logs(_logs(0x1, 3, 1))
    e2.store_logs(_logs(0x2, 1, 1))
    assert e1.last_index() == 3
    assert e2.last_index() == 1
    assert len(e1.all_logs()) == 3
    assert len(e2.all_logs()) == 1


def test_entry_truncate_then_reappend(make_store):
    e = make_store().entry("f1", bucket_size=4)  # parquet: force bucket spans
    e.store_logs(_logs(0x1, 10, 1))
    e.remove_logs(6)
    assert e.last_index() == 6
    assert [r["indx"] for r in e.all_logs()] == list(range(6))
    e.store_logs(_logs(0x3, 3, 2))
    assert e.last_index() == 9
    assert [r["indx"] for r in e.all_logs()] == list(range(9))
    # truncate to zero
    e.remove_logs(0)
    assert e.last_index() == 0
    assert e.all_logs() == []


def test_entry_zero_topics_roundtrip(make_store):
    """Anonymous events (legal: zero indexed params) carry topics=[] —
    all backends must round-trip the empty list identically, not collapse
    it to None.  The reference's pg codec is ambiguous here
    (postgresql_store.go:179-190 splits '' into ['']); our conformance
    bar is backend agreement on the native representation."""
    e = make_store().entry("f1")
    [anon] = _logs(0x5, 1, 1)
    anon = {**anon, "topics": []}
    [named] = _logs(0x6, 1, 2)
    e.store_logs([anon, named])
    got_anon, got_named = e.get_log(0), e.get_log(1)
    assert got_anon["topics"] == []
    assert got_named["topics"] == named["topics"]
    assert [r["topics"] for r in e.all_logs()] == [[], named["topics"]]


def test_entry_point_lookup(make_store):
    e = make_store().entry("f1", bucket_size=4)
    e.store_logs(_logs(0x1, 9, 1))
    r = e.get_log(7)
    assert r is not None and r["indx"] == 7
    assert e.get_log(99) is None


def test_entry_reopen_recovers_index(tmp_path):
    s = ParquetStore(tmp_path)
    s.entry("f1").store_logs(_logs(0x1, 5, 1))
    # meta intact
    assert ParquetStore(tmp_path).entry("f1").last_index() == 5
    # meta lost → rescan from parquet
    (tmp_path / "entries" / "f1" / "meta.json").unlink()
    assert ParquetStore(tmp_path).entry("f1").last_index() == 5


def test_entry_spark_readable(tmp_path, spark):
    e = ParquetStore(tmp_path).entry("f1", bucket_size=4)
    e.store_logs(_logs(0x1, 9, 1))
    df = e.df(spark)
    assert df.count() == 9
    assert [r.indx for r in df.select("indx").orderBy("indx").collect()] == list(range(9))


def test_entry_crash_recovery_meta_behind(tmp_path):
    """Crash between data write and meta commit: the reopened entry must
    trust the data files (no overlapping indx on the next append)."""
    import json

    e = ParquetStore(tmp_path).entry("f1")
    e.store_logs(_logs(0x1, 5, 1))
    meta = tmp_path / "entries" / "f1" / "meta.json"
    meta.write_text(json.dumps({"last_index": 2}))  # simulate stale meta
    e2 = ParquetStore(tmp_path).entry("f1")
    assert e2.last_index() == 5
    e2.store_logs(_logs(0x2, 2, 2))
    idxs = [r["indx"] for r in e2.all_logs()]
    assert idxs == list(range(7))


def test_entry_compaction(tmp_path):
    """Many small head-batch files merge into one per bucket; contents and
    order are unchanged."""
    e = ParquetStore(tmp_path).entry("f1", bucket_size=100)
    for i in range(12):  # 12 separate append files
        e.store_logs(_logs(0x1 + i, 3, i + 1))
    before = e.all_logs()
    assert len(list((tmp_path / "entries" / "f1" / "bucket=0").glob("*.parquet"))) == 12
    merged = e.compact()
    assert merged == 12
    assert len(list((tmp_path / "entries" / "f1" / "bucket=0").glob("*.parquet"))) == 1
    assert e.all_logs() == before
    # appends continue normally after compaction
    e.store_logs(_logs(0x99, 2, 99))
    assert e.last_index() == 38


def test_tracker_runs_on_inmem_backend(tmp_path):
    """The tracker is store-agnostic: full sync + live reorg on the
    in-memory backend (WithStore(inmem) in the reference's tests)."""
    from eth_event_tracker_spark.config import FilterConfig
    from eth_event_tracker_spark.sources.mock_chain import MockProvider
    from eth_event_tracker_spark.streaming import Tracker

    prov = MockProvider()
    prov.advance(25, logs_per_block=1)
    t = Tracker(prov, InMemStore(), FilterConfig())
    t.sync()
    assert t.entry.last_index() == 25
    prov.fork(3, logs_per_block=2)
    events = t.poll()
    assert sum(len(e.removed) for e in events) == 3
    assert sum(len(e.added) for e in events) == 6
    chain = [lg["tx_hash"] for b in prov.canonical for lg in b.logs()]
    assert [r["tx_hash"] for r in t.entry.all_logs()] == chain


def test_entry_truncate_crash_recovery(tmp_path):
    """Crash mid-truncation: the truncate intent (meta committed before
    deletion) must win on reopen — the doomed tail never resurrects."""
    import json

    e = ParquetStore(tmp_path).entry("f1", bucket_size=4)
    e.store_logs(_logs(0x1, 10, 1))
    # simulate: intent written, deletion never ran
    meta = tmp_path / "entries" / "f1" / "meta.json"
    meta.write_text(json.dumps({"last_index": 6, "truncating": True}))
    e2 = ParquetStore(tmp_path).entry("f1", bucket_size=4)
    assert e2.last_index() == 6
    assert [r["indx"] for r in e2.all_logs()] == list(range(6))
    e2.store_logs(_logs(0x2, 2, 2))
    assert [r["indx"] for r in e2.all_logs()] == list(range(8))


def test_single_block_exceeding_cap_does_not_hang(tmp_path):
    """A single block with more logs than the server cap must fall back to
    the per-block by-hash fetch instead of looping forever."""
    from eth_event_tracker_spark.config import FilterConfig
    from eth_event_tracker_spark.sources.mock_chain import MockProvider
    from eth_event_tracker_spark.streaming import Tracker

    prov = MockProvider(logs_per_query_limit=5)
    prov.advance(30, logs_per_block=1)
    # one fat block in bulk range: 8 logs > cap 5
    for j in range(1, 8):
        prov.canonical[10].log(f"fa{j:04x}")
    t = Tracker(prov, ParquetStore(tmp_path), FilterConfig(batch_size=10))
    t.sync()
    chain = [lg["tx_hash"] for b in prov.canonical for lg in b.logs()]
    assert [r["tx_hash"] for r in t.entry.all_logs()] == chain


def test_scan_tail_stops_at_boundary(tmp_path):
    """Reverse tail walk returns exactly the contiguous matching tail and
    reads across bucket boundaries."""
    e = ParquetStore(tmp_path).entry("f1", bucket_size=4)
    e.store_logs(_logs(0x1, 3, 1))  # indx 0-2, hash of block 0x1
    e.store_logs(_logs(0x2, 3, 2))  # indx 3-5
    e.store_logs(_logs(0x3, 4, 3))  # indx 6-9, spans buckets 1-2
    tail_hash = mock(0x3).num(3).hash
    mid_hash = mock(0x2).num(2).hash
    got = e.scan_tail(lambda r: r["block_hash"] in {tail_hash, mid_hash})
    assert [r["indx"] for r in got] == [3, 4, 5, 6, 7, 8, 9]
    # a hash set matching only non-tail rows yields nothing (walk stops)
    assert e.scan_tail(lambda r: r["block_hash"] == mock(0x1).num(1).hash) == []


def test_mixed_writer_bucket(tmp_path):
    """A bucket holding files from both writers (append_df's Spark files
    mark indx/block_num/block_hash not-null, store_logs' are nullable)
    reads, truncates and compacts as one schema."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    e = ParquetStore(tmp_path).entry("f1")
    strict = pa.schema(
        [f.with_nullable(f.name not in ("indx", "block_num", "block_hash")) for f in e.schema]
    )

    def spark_write(tag, num):  # what append_df leaves, written without Spark
        base = e.last_index()
        rows = [{**lg, "indx": base + i} for i, lg in enumerate(_logs(tag, 3, num))]
        pq.write_table(
            pa.Table.from_pylist(rows, schema=strict),
            tmp_path / "entries" / "f1" / "bucket=0" / f"part-{tag:05d}-spark.snappy.parquet",
        )
        return ParquetStore(tmp_path).entry("f1"), rows  # reopen: the scan finds the rows

    e.store_logs(_logs(0x1, 3, 1))
    e, spark_rows = spark_write(0x2, 2)
    e.store_logs(_logs(0x3, 3, 3))
    assert [r["indx"] for r in e.all_logs()] == list(range(9))
    assert e.get_log(4)["tx_hash"] == spark_rows[1]["tx_hash"]
    e.remove_logs(7)
    assert [r["indx"] for r in e.all_logs()] == list(range(7))
    e, _ = spark_write(0x4, 4)
    before = e.all_logs()
    assert len(before) == 10
    assert e.compact() == 2
    assert e.all_logs() == before


@pytest.mark.parametrize("fail_at", ["write", "replace", "first_unlink", "last_unlink"])
def test_remove_logs_crash_recovery(tmp_path, monkeypatch, fail_at):
    """A crash at any step of remove_logs: the reopened entry holds
    exactly the rows below indx, once each, and appends continue."""
    import os
    import pathlib

    import pyarrow.parquet as pq

    e = ParquetStore(tmp_path).entry("f1", bucket_size=8)
    for b in range(1, 7):  # 18 rows in buckets 0-2, several files each
        e.store_logs(_logs(b, 3, b))
    want = e.all_logs()[:10]
    originals = len(list((tmp_path / "entries" / "f1" / "bucket=1").glob("*.parquet")))

    def crash_on(step, real, nth=1):
        calls = [0]

        def f(*a, **kw):
            calls[0] += 1
            if calls[0] == nth:
                raise RuntimeError(f"injected crash in {step}")
            return real(*a, **kw)

        return f

    if fail_at == "write":  # the kept rows' tmp file
        monkeypatch.setattr(pq, "write_table", crash_on(fail_at, pq.write_table))
    elif fail_at == "replace":  # 1st replace commits the intent, 2nd the kept rows
        monkeypatch.setattr(os, "replace", crash_on(fail_at, os.replace, 2))
    else:  # the boundary bucket's originals
        nth = 1 if fail_at == "first_unlink" else originals
        monkeypatch.setattr(pathlib.Path, "unlink", crash_on(fail_at, pathlib.Path.unlink, nth))
    with pytest.raises(RuntimeError, match="injected crash"):
        e.remove_logs(10)
    monkeypatch.undo()

    e2 = ParquetStore(tmp_path).entry("f1", bucket_size=8)
    assert e2.last_index() == 10
    assert e2.all_logs() == want
    e2.store_logs(_logs(0x9, 2, 9))
    assert [r["indx"] for r in e2.all_logs()] == list(range(12))
    # the finished truncation stays finished across another reopen
    assert ParquetStore(tmp_path).entry("f1", bucket_size=8).all_logs() == e2.all_logs()


def test_append_df_matches_store_logs(make_store, spark):
    """Every backend takes the tracker's bulk path: append_df lands the
    rows store_logs would, with the same indx."""
    from eth_event_tracker_spark.schemas import RAW_LOG_SCHEMA

    logs = [lg for b in range(1, 6) for lg in _logs(b, 3, b)]
    model = InMemStore().entry("f1")
    model.store_logs(logs)
    cols = [f.name for f in RAW_LOG_SCHEMA.fields]
    e = make_store().entry("f1")
    assert e.append_df(spark.createDataFrame([tuple(lg[c] for c in cols) for lg in logs], RAW_LOG_SCHEMA)) == 15
    assert e.last_index() == 15
    keys = ("indx", "tx_hash", "block_num", "block_hash", "topics", "data")
    assert [[r[c] for c in keys] for r in e.all_logs()] == [
        [r[c] for c in keys] for r in model.all_logs()
    ]


# ---------------------------------------------------------------------------
# SQL backend specifics (postgresql_store.go parity)
# ---------------------------------------------------------------------------
def test_sql_kv_persistence(tmp_path):
    """Durability across store reopen — the property the reference's pg
    users rely on."""
    db = tmp_path / "store.db"
    s = SqlStore(db)
    s.set("k", "v")
    s.close()
    assert SqlStore(db).get("k") == "v"


def test_sql_entry_reopen_recovers_index(tmp_path):
    db = tmp_path / "store.db"
    s = SqlStore(db)
    s.entry("f1").store_logs(_logs(0x1, 5, 1))
    s.close()
    e = SqlStore(db).entry("f1")
    assert e.last_index() == 5
    e.store_logs(_logs(0x2, 2, 2))
    assert [r["indx"] for r in e.all_logs()] == list(range(7))


def test_sql_row_roundtrip_native_types(tmp_path):
    """topics/data use the reference's stringly encoding in the table
    (comma-joined, 0x-hex — postgresql_store.go:124-141) but must come
    back as native list/bytes, identical to the other backends."""
    e = SqlStore(tmp_path / "s.db").entry("f1")
    [orig] = _logs(0x7, 1, 1)
    e.store_logs([dict(orig)])
    got = e.get_log(0)
    assert got["topics"] == orig["topics"]
    assert got["data"] == orig["data"]
    assert isinstance(got["data"], bytes)
    # raw stored form is the reference's encoding
    raw = e._conn.execute(f"SELECT topics, data FROM {e.table}").fetchone()
    assert raw[0] == ",".join(orig["topics"])
    assert raw[1] == "0x" + orig["data"].hex()


def test_sql_filter_hash_must_be_identifier(tmp_path):
    import pytest as _pytest

    s = SqlStore(tmp_path / "s.db")
    with _pytest.raises(ValueError):
        s.entry("bad-hash; DROP TABLE kv")


def test_tracker_runs_on_sql_backend(tmp_path):
    """Full sync + live reorg on the SQL backend (the reference's
    TestStore-over-pg scenario, tracker-side)."""
    from eth_event_tracker_spark.config import FilterConfig
    from eth_event_tracker_spark.sources.mock_chain import MockProvider
    from eth_event_tracker_spark.streaming import Tracker

    prov = MockProvider()
    prov.advance(25, logs_per_block=1)
    t = Tracker(prov, SqlStore(tmp_path / "store.db"), FilterConfig())
    t.sync()
    assert t.entry.last_index() == 25
    prov.fork(3, logs_per_block=2)
    events = t.poll()
    assert sum(len(e.removed) for e in events) == 3
    assert sum(len(e.added) for e in events) == 6
    chain = [lg["tx_hash"] for b in prov.canonical for lg in b.logs()]
    assert [r["tx_hash"] for r in t.entry.all_logs()] == chain


# ---------------------------------------------------------------------------
# JDBC backend specifics — the distributed SQL path
# (postgresql_store.go:110-150 server-side semantics)
# ---------------------------------------------------------------------------
def test_tracker_runs_on_jdbc_backend(tmp_path, spark):
    """Full sync + live reorg on the JDBC backend — the reference's
    pg-backed tracker scenario with executor-side writes."""
    from eth_event_tracker_spark.config import FilterConfig
    from eth_event_tracker_spark.sources.mock_chain import MockProvider
    from eth_event_tracker_spark.streaming import Tracker

    s = _derby_store(spark, tmp_path)
    try:
        prov = MockProvider()
        prov.advance(25, logs_per_block=1)
        t = Tracker(prov, s, FilterConfig())
        t.sync()
        assert t.entry.last_index() == 25
        prov.fork(3, logs_per_block=2)
        events = t.poll()
        assert sum(len(e.removed) for e in events) == 3
        assert sum(len(e.added) for e in events) == 6
        chain = [lg["tx_hash"] for b in prov.canonical for lg in b.logs()]
        assert [r["tx_hash"] for r in t.entry.all_logs()] == chain
    finally:
        s.close()


def test_jdbc_append_df_matches_store_logs_no_driver_rows(tmp_path, spark, monkeypatch):
    """The distributed bulk path lands the same rows as the driver-side
    path — and no row data crosses the driver while it runs (the property
    the round-3 verdict asked the plan check for: toLocalIterator/collect
    poisoned for the duration of append_df)."""
    from pyspark.sql import DataFrame

    from eth_event_tracker_spark.schemas import RAW_LOG_SCHEMA

    logs = [lg for b in range(1, 9) for lg in _logs(b, 3, b)]
    # one log per shape edge: empty topics, null data
    logs[0] = {**logs[0], "topics": [], "data": None}
    s1 = _derby_store(spark, tmp_path / "a")
    s2 = _derby_store(spark, tmp_path / "b")
    try:
        e1 = s1.entry("f1")
        e1.store_logs(logs)
        e2 = s2.entry("f1")
        cols = [f.name for f in RAW_LOG_SCHEMA.fields]
        df = spark.createDataFrame([tuple(lg[c] for c in cols) for lg in logs], RAW_LOG_SCHEMA)

        def _forbidden(self, *a, **kw):
            raise AssertionError("append_df must not materialize rows on the driver")

        monkeypatch.setattr(DataFrame, "toLocalIterator", _forbidden)
        monkeypatch.setattr(DataFrame, "collect", _forbidden)
        n = e2.append_df(df)
        monkeypatch.undo()
        assert n == len(logs)
        assert e2.last_index() == e1.last_index()
        assert e2.all_logs() == e1.all_logs()
        # distributed read path agrees with the driver-side decode
        got = [r.asDict() for r in e2.df(spark).collect()]
        want = e1.all_logs()
        assert [(r["indx"], r["topics"], r["data"]) for r in got] == [
            (r["indx"], r["topics"], r["data"]) for r in want
        ]
    finally:
        s1.close()
        s2.close()


def test_sql_append_df_matches_store_logs(tmp_path, spark):
    """The distributed-indx bulk path lands the same rows as the
    driver-side path."""
    from eth_event_tracker_spark.schemas import RAW_LOG_SCHEMA

    logs = [lg for b in range(1, 9) for lg in _logs(b, 3, b)]
    e1 = SqlStore(tmp_path / "a.db").entry("f1")
    e1.store_logs(logs)
    e2 = SqlStore(tmp_path / "b.db").entry("f1")
    cols = [f.name for f in RAW_LOG_SCHEMA.fields]
    df = spark.createDataFrame([tuple(lg[c] for c in cols) for lg in logs], RAW_LOG_SCHEMA)
    n = e2.append_df(df)
    assert n == len(logs)
    assert e2.last_index() == e1.last_index()
    assert e2.all_logs() == e1.all_logs()
    # spark-side view agrees
    assert e2.df(spark).count() == len(logs)


def test_changelog_roundtrip_and_compaction(make_store, spark):
    """Round 5: the changelog model is backend-agnostic.  change_type
    rows round-trip on every backend (previously the SQL codecs silently
    dropped the tag), current_view reconstructs the live set from the
    backend's df(), and compact_changelog collapses finalized churn
    server-side while the live view stays bit-identical — the
    prune_changelog semantics, now enforced x4 backends."""
    from eth_event_tracker_spark.streaming.pipeline import current_view

    clog = make_store().changelog_entry("cl")
    adds1 = _logs(0x1, 2, 1)  # block 1: survives
    adds2 = _logs(0x2, 2, 2)  # block 2: reorged out below the horizon
    clog.store_logs([{**r, "change_type": "add"} for r in adds1 + adds2])
    clog.store_logs([{**r, "change_type": "remove"} for r in reversed(adds2)])
    adds2b = _logs(0x3, 2, 2)  # block 2': the replacement branch
    clog.store_logs([{**r, "change_type": "add"} for r in adds2b])

    # round-trip: the tag survives storage on this backend
    assert [r.get("change_type") for r in clog.all_logs()] == (
        ["add"] * 4 + ["remove"] * 2 + ["add"] * 2
    )

    live = current_view(clog.df(spark))
    want = {(r["block_hash"], r["tx_index"], r["log_index"]) for r in adds1 + adds2b}
    got = {(r.block_hash, r.tx_index, r.log_index) for r in live.collect()}
    assert got == want

    before = sorted(map(tuple, live.collect()))
    last = clog.last_index()
    pre_indx = {r["indx"] for r in clog.all_logs()}
    assert clog.time_travel_horizon() == 0  # never pruned: exact everywhere
    stats = clog.compact_changelog(spark, finalized_below=100)
    assert stats["rows_after"] < stats["rows_before"]
    assert [r for r in clog.all_logs() if r.get("change_type") == "remove"] == []
    # exactly one winning 'add' row per live key; live view identical
    assert len(clog.all_logs()) == len(want)
    assert sorted(map(tuple, current_view(clog.df(spark)).collect())) == before
    assert clog.last_index() == last  # append counter never regresses

    # time-travel horizon parity (round-7): every backend reports the max
    # PRUNED indx, and view_as_of refuses instants below it
    import pytest as _pytest

    from eth_event_tracker_spark.streaming.pipeline import (
        TimeTravelBelowHorizonError,
        view_as_of,
    )

    dropped = pre_indx - {r["indx"] for r in clog.all_logs()}
    h = clog.time_travel_horizon()
    assert h == max(dropped), "horizon must equal the max pruned indx"
    with _pytest.raises(TimeTravelBelowHorizonError):
        view_as_of(clog.df(spark), h - 1, exact_from=h)
    got_at_h = {
        (r.block_hash, r.tx_index, r.log_index)
        for r in view_as_of(clog.df(spark), last - 1, exact_from=h).collect()
    }
    assert got_at_h == want


def test_horizon_bound_with_duplicate_adds(make_store, spark):
    """Round-7 review: when a superseded duplicate 'add' is pruned (at-
    least-once delivery), the time-travel bound must be the key's
    SURVIVING winner indx, not the max pruned indx — at the pruned add's
    indx the full log showed the key live, the compacted log cannot."""
    from eth_event_tracker_spark.streaming.pipeline import (
        TimeTravelBelowHorizonError,
        current_view,
        view_as_of,
    )

    clog = make_store().changelog_entry("dup")
    a = _logs(0x1, 1, 1)  # key A, block 1
    b = _logs(0x2, 1, 2)  # key B, block 2 (stays live, above horizon)
    clog.store_logs([{**a[0], "change_type": "add"}])   # indx 0
    clog.store_logs([{**a[0], "change_type": "add"}])   # indx 1: duplicate
    clog.store_logs([{**b[0], "change_type": "add"}])   # indx 2
    import pytest as _pytest

    clog.compact_changelog(spark, finalized_below=2)  # prunes only indx 0
    kept = {r["indx"] for r in clog.all_logs()}
    assert kept == {1, 2}, kept
    # old bound (max pruned) would be 0; the winner bound is 1
    assert clog.time_travel_horizon() == 1
    with _pytest.raises(TimeTravelBelowHorizonError):
        view_as_of(clog.df(spark), 0, exact_from=clog.time_travel_horizon())
    # at the bound: exact (key A live via the surviving winner)
    live_at_1 = {
        (r.block_hash, r.tx_index, r.log_index)
        for r in view_as_of(clog.df(spark), 1, exact_from=1).collect()
    }
    assert live_at_1 == {(a[0]["block_hash"], a[0]["tx_index"], a[0]["log_index"])}
    assert current_view(clog.df(spark)).count() == 2
