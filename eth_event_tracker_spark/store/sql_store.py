"""SQL Store/Entry backend over an embedded SQLite database — the
engine's twin of the reference's PostgreSQL backend
(/root/reference/store/postgresql/postgresql_store.go:79-239), completing
the Store pluggability story for users who want the tracker's output
queryable by an external SQL system.

Parity with the reference's SQL mapping:
  - a single ``kv(key, val)`` table with upsert Set
    (postgresql_store.go:71-76 ``ON CONFLICT (key) DO UPDATE``);
  - one ``logs_<filterhash>`` table per entry, created lazily on
    GetEntry (postgresql_store.go:79-88, DDL at :226-239);
  - ``LastIndex`` = max(indx)+1 (:98-108), ``RemoveLogs`` =
    ``DELETE WHERE indx >= ?`` (:153-158), per-batch transactional
    ``StoreLogs`` (:111-150);
  - topics stored comma-joined, data as 0x-hex text (:124-141) — the
    reference's stringly row encoding — decoded back to native
    list/bytes on read so rows round-trip identically to the
    parquet/inmem backends.

The schema is a superset of the reference's (adds ``log_index``, which
LOG_SCHEMA carries and the reference's DDL drops).

Scale notes: SQLite is the embedded stand-in for a server-side SQL
database (the reference's own tests swap PostgreSQL for an embedded
driver the same way).  The driver-side paths here (store_logs,
scan_tail) are O(head batch) / O(reorg depth) — identical envelopes to
the parquet backend.  ``append_df`` streams partitions off the cluster
via toLocalIterator, which is the honest limit of an embedded file
database the Python sqlite3 driver owns.  The fully distributed form —
``df.write.jdbc`` after the same two-phase indx assignment, plus a
``spark.read.jdbc`` scan — is implemented in ``jdbc_store.JdbcStore``
(conformance-tested against embedded Derby; takes any JDBC URL).
"""

from __future__ import annotations

import re
import sqlite3
from pathlib import Path

_COLUMNS = (
    "indx",
    "log_index",
    "tx_index",
    "tx_hash",
    "block_num",
    "block_hash",
    "address",
    "topics",
    "data",
)

_NAME_OK = re.compile(r"^[0-9a-zA-Z_]+$")


def _table_name(filter_hash: str) -> str:
    # the reference interpolates "logs_" + hash into DDL (:80); hashes are
    # hex so a strict identifier check is both safe and parity-preserving
    if not _NAME_OK.match(filter_hash):
        raise ValueError(f"filter hash {filter_hash!r} is not a SQL-safe identifier")
    return f"logs_{filter_hash}"


def _encode(lg: dict, indx: int) -> tuple:
    topics = lg.get("topics")
    data = lg.get("data")
    return (
        indx,
        lg.get("log_index"),
        lg.get("tx_index"),
        lg.get("tx_hash"),
        lg.get("block_num"),
        lg.get("block_hash"),
        lg.get("address"),
        # empty list encodes as "" (decoded back to []); NULL is reserved
        # for a true None — anonymous events legally carry topics=[] and
        # must round-trip identically to the parquet/inmem backends (the
        # reference's own pg codec is ambiguous here, postgresql_store.go:179-190;
        # our conformance bar is backend agreement, not bug parity)
        None if topics is None else ",".join(topics),
        "0x" + bytes(data).hex() if data is not None else None,
    )


def _decode(row: tuple, columns: tuple = _COLUMNS) -> dict:
    d = dict(zip(columns, row))
    raw_topics = d["topics"]
    d["topics"] = None if raw_topics is None else ([] if raw_topics == "" else raw_topics.split(","))
    d["data"] = bytes.fromhex(d["data"][2:]) if d["data"] else None
    return d


class SqlStore:
    """Store over a SQLite file (or ``:memory:``)."""

    def __init__(self, path: str | Path = ":memory:") -> None:
        self.path = str(path)
        # check_same_thread=False: foreachBatch callbacks arrive on py4j
        # worker threads; sqlite serializes writes internally
        self._conn = sqlite3.connect(self.path, check_same_thread=False)
        with self._conn:
            # kvSQLSchema twin (postgresql_store.go:222-227)
            self._conn.execute(
                "CREATE TABLE IF NOT EXISTS kv (key TEXT PRIMARY KEY, val TEXT)"
            )
        self._entries: dict[str, SqlEntry] = {}

    def close(self) -> None:
        self._conn.close()

    # -- KV (Get/Set/ListPrefix, postgresql_store.go:49-77) -----------------
    def get(self, key: str) -> str | None:
        row = self._conn.execute("SELECT val FROM kv WHERE key = ?", (key,)).fetchone()
        return row[0] if row else None

    def set(self, key: str, val: str) -> None:
        with self._conn:
            self._conn.execute(
                "INSERT INTO kv (key, val) VALUES (?, ?) "
                "ON CONFLICT (key) DO UPDATE SET val = excluded.val",
                (key, val),
            )

    def list_prefix(self, prefix: str) -> list[tuple[str, str]]:
        esc = prefix.replace("\\", "\\\\").replace("%", r"\%").replace("_", r"\_")
        rows = self._conn.execute(
            "SELECT key, val FROM kv WHERE key LIKE ? ESCAPE '\\' ORDER BY key",
            (esc + "%",),
        ).fetchall()
        return [(k, v) for k, v in rows]

    # -- entries (GetEntry, postgresql_store.go:79-88) ----------------------
    def entry(
        self, filter_hash: str, bucket_size: int = 10_000, changelog: bool = False
    ) -> "SqlEntry":
        if filter_hash not in self._entries:
            self._entries[filter_hash] = SqlEntry(
                self._conn, _table_name(filter_hash), changelog=changelog
            )
        return self._entries[filter_hash]

    def changelog_entry(self, filter_hash: str, bucket_size: int = 10_000) -> "SqlEntry":
        return self.entry("changelog_" + filter_hash, changelog=True)


class SqlEntry:
    """Ordered, append-only, tail-truncatable log table
    (postgresql_store.go:91-205 semantics)."""

    def __init__(self, conn: sqlite3.Connection, table: str, changelog: bool = False) -> None:
        self._conn = conn
        self.table = table
        self.changelog = changelog
        self.columns = _COLUMNS + (("change_type",) if changelog else ())
        self._col_list = ",".join(self.columns)
        with conn:
            # logSQLSchema twin (:229-239) + log_index, with native integer
            # affinity and a primary key on indx (the reference's numeric
            # columns predate its point-lookup usage; an index is the right
            # physical choice for GetLog/LastIndex)
            conn.execute(
                f"CREATE TABLE IF NOT EXISTS {table} ("
                "indx INTEGER PRIMARY KEY, log_index INTEGER, tx_index INTEGER, "
                "tx_hash TEXT, block_num INTEGER, block_hash TEXT, "
                "address TEXT, topics TEXT, data TEXT"
                + (", change_type TEXT" if changelog else "")
                + ")"
            )

    # -- LastIndex (:98-108) -------------------------------------------------
    def last_index(self) -> int:
        row = self._conn.execute(f"SELECT MAX(indx) FROM {self.table}").fetchone()
        return (row[0] + 1) if row[0] is not None else 0

    # -- StoreLogs (:111-150; one transaction per batch) ---------------------
    def store_logs(self, logs: list[dict]) -> list[dict]:
        if not logs:
            return []
        base = self.last_index()
        encoded = [
            _encode(lg, base + i)
            + ((lg.get("change_type"),) if self.changelog else ())
            for i, lg in enumerate(logs)
        ]
        with self._conn:
            self._conn.executemany(
                f"INSERT INTO {self.table} ({self._col_list}) "
                f"VALUES ({','.join('?' * len(self.columns))})",
                encoded,
            )
        return [{**dict(lg), "indx": base + i} for i, lg in enumerate(logs)]

    # -- RemoveLogs (:153-158) -----------------------------------------------
    def remove_logs(self, indx: int) -> None:
        with self._conn:
            self._conn.execute(f"DELETE FROM {self.table} WHERE indx >= ?", (indx,))

    # -- GetLog (:161-205) ---------------------------------------------------
    def get_log(self, indx: int) -> dict | None:
        row = self._conn.execute(
            f"SELECT {self._col_list} FROM {self.table} WHERE indx = ?", (indx,)
        ).fetchone()
        return _decode(row, self.columns) if row else None

    def all_logs(self) -> list[dict]:
        rows = self._conn.execute(
            f"SELECT {self._col_list} FROM {self.table} ORDER BY indx"
        ).fetchall()
        return [_decode(r, self.columns) for r in rows]

    def scan_tail(self, match) -> list[dict]:
        """Reverse tail walk (tracker.go:717-754): victims are the maximal
        suffix of rows satisfying ``match``.  The indx-descending scan is
        an index walk that stops at the first keeper — O(depth)."""
        victims: list[dict] = []
        cur = self._conn.execute(
            f"SELECT {self._col_list} FROM {self.table} ORDER BY indx DESC"
        )
        for row in cur:
            r = _decode(row, self.columns)
            if not match(r):
                break
            victims.append(r)
        cur.close()
        victims.reverse()
        return victims

    def compact(self, bucket: int | None = None) -> int:
        return 0  # nothing to compact: SQL storage is not file-bucketed

    def compact_changelog(self, spark, finalized_below: int) -> dict:
        """Changelog retention as ONE server-side DELETE — the SQL twin of
        ParquetEntry.compact_changelog (prune_changelog semantics): below
        the finality horizon, drop every row superseded by a later row of
        the same natural key, and every fully-retracted key's final
        'remove'.  The entry's global max-indx row is exempt so
        ``last_index`` (MAX+1) never regresses and appends stay monotonic.
        ``spark`` unused (interface parity); no row crosses the driver."""
        before = self._conn.execute(f"SELECT COUNT(*) FROM {self.table}").fetchone()[0]
        t = self.table
        doomed = (
            f"SELECT r.indx FROM {t} r WHERE r.block_num < ? "
            f"AND r.indx < (SELECT MAX(indx) FROM {t}) "
            f"AND (r.change_type = 'remove' OR EXISTS ("
            f"  SELECT 1 FROM {t} s WHERE s.block_hash = r.block_hash "
            f"  AND s.tx_index = r.tx_index AND s.log_index = r.log_index "
            f"  AND s.indx > r.indx))"
        )
        with self._conn:
            # the time-travel horizon advances to, for every key losing
            # rows, that key's pre-compaction max indx (surviving winner
            # or final remove) — computed before the delete, persisted
            # in the store's kv table (parity with ParquetEntry; the
            # plain max-pruned-indx bound is one short for superseded
            # duplicate adds, round-7 review)
            dropped_max = self._conn.execute(
                f"SELECT MAX(km.kmax) FROM {t} r JOIN ("
                f"  SELECT block_hash, tx_index, log_index, MAX(indx) AS kmax "
                f"  FROM {t} GROUP BY block_hash, tx_index, log_index) km "
                f"ON km.block_hash = r.block_hash AND km.tx_index = r.tx_index "
                f"AND km.log_index = r.log_index "
                f"WHERE r.indx IN ({doomed})",
                (finalized_below,),
            ).fetchone()[0]
            if dropped_max is not None:
                self._conn.execute(
                    "INSERT INTO kv (key, val) VALUES (?, ?) "
                    "ON CONFLICT (key) DO UPDATE SET val = excluded.val",
                    (
                        f"_tt_horizon:{t}",
                        str(max(self.time_travel_horizon(), int(dropped_max))),
                    ),
                )
            # the doomed set is an uncorrelated IN-subquery, materialized
            # BEFORE any row is removed: a correlated DELETE could evaluate
            # a row's EXISTS after its superseding row was already deleted
            # and wrongly resurrect a fully-retracted key
            self._conn.execute(
                f"DELETE FROM {t} WHERE indx IN ({doomed})", (finalized_below,)
            )
        after = self._conn.execute(f"SELECT COUNT(*) FROM {t}").fetchone()[0]
        return {"rows_before": before or 0, "rows_after": after}

    def time_travel_horizon(self) -> int:
        """Smallest changelog indx at which view_as_of reconstruction is
        exact (0 = never pruned) — backend parity with
        ParquetEntry.time_travel_horizon; stored in the kv table so it
        survives reopen like any checkpoint."""
        row = self._conn.execute(
            "SELECT val FROM kv WHERE key = ?", (f"_tt_horizon:{self.table}",)
        ).fetchone()
        return int(row[0]) if row else 0

    # -- Spark integration ---------------------------------------------------
    def append_df(self, df) -> int:
        """Bulk path: append a Spark DataFrame of raw logs (no indx).
        indx assignment runs distributed (the same two-phase plan as the
        parquet backend); the final insert streams one partition at a time
        through the driver — the embedded-database limit.  A server-side
        JDBC target would replace the loop with ``indexed.write.jdbc``."""
        from ..operators.indexing import assign_indx_scalable

        base = self.last_index()
        indexed = assign_indx_scalable(df, base=base).select(*_COLUMNS)
        n = 0
        batch: list[tuple] = []
        with self._conn:
            for r in indexed.toLocalIterator():
                d = r.asDict()
                batch.append(_encode(d, d["indx"]))
                n += 1
                if len(batch) >= 10_000:
                    self._conn.executemany(
                        f"INSERT INTO {self.table} ({','.join(_COLUMNS)}) "
                        f"VALUES ({','.join('?' * len(_COLUMNS))})",
                        batch,
                    )
                    batch.clear()
            if batch:
                self._conn.executemany(
                    f"INSERT INTO {self.table} ({','.join(_COLUMNS)}) "
                    f"VALUES ({','.join('?' * len(_COLUMNS))})",
                    batch,
                )
        return n

    def df(self, spark):
        """The entry as a DataFrame.  Driver-side materialization (see
        module docstring — spark.read.jdbc with an indx predicate is the
        server-database form of this)."""
        from ..schemas import CHANGELOG_SCHEMA, LOG_SCHEMA

        schema = CHANGELOG_SCHEMA if self.changelog else LOG_SCHEMA
        cols = [f.name for f in schema.fields]
        return spark.createDataFrame(
            [tuple(r.get(c) for c in cols) for r in self.all_logs()], schema
        )
