"""In-memory Store/Entry backend — the engine's twin of the reference's
inmem backend (store/inmem/inmem_store.go): same interface as
ParquetStore/ParquetEntry, list-backed, no durability.  Exists to prove
the store interface is pluggable (the reference runs one conformance
suite against inmem/bolt/pg — tests/test_store_conformance.py does the
same against parquet/inmem) and for fast unit composition."""

from __future__ import annotations


class InMemStore:
    def __init__(self) -> None:
        self._kv: dict[str, str] = {}
        self._entries: dict[str, InMemEntry] = {}

    # -- KV -----------------------------------------------------------------
    def get(self, key: str) -> str | None:
        return self._kv.get(key)

    def set(self, key: str, val: str) -> None:
        self._kv[key] = val

    def list_prefix(self, prefix: str) -> list[tuple[str, str]]:
        return sorted((k, v) for k, v in self._kv.items() if k.startswith(prefix))

    # -- entries ------------------------------------------------------------
    def entry(
        self, filter_hash: str, bucket_size: int = 10_000, changelog: bool = False
    ) -> "InMemEntry":
        if filter_hash not in self._entries:
            self._entries[filter_hash] = InMemEntry(changelog=changelog)
        return self._entries[filter_hash]

    def changelog_entry(self, filter_hash: str, bucket_size: int = 10_000) -> "InMemEntry":
        return self.entry("changelog_" + filter_hash, changelog=True)


class InMemEntry:
    """Ordered, append-only, tail-truncatable log list
    (inmem_store.go:96-117 semantics)."""

    def __init__(self, changelog: bool = False) -> None:
        self._rows: list[dict] = []
        self.changelog = changelog  # rows carry a change_type tag
        # explicit counter: after changelog compaction, list positions no
        # longer equal indx values (pruned history leaves gaps)
        self._next = 0
        self._tt_horizon = 0  # see time_travel_horizon()

    def last_index(self) -> int:
        return self._next

    def store_logs(self, logs: list[dict]) -> list[dict]:
        base = self._next
        rows = [{**dict(lg), "indx": base + i} for i, lg in enumerate(logs)]
        self._rows.extend(rows)
        self._next = base + len(rows)
        return rows

    def remove_logs(self, indx: int) -> None:
        if indx >= self._next:
            return
        self._rows = [r for r in self._rows if r["indx"] < indx]
        self._next = indx

    def get_log(self, indx: int) -> dict | None:
        return next((r for r in self._rows if r["indx"] == indx), None)

    def all_logs(self) -> list[dict]:
        return list(self._rows)

    def scan_tail(self, match) -> list[dict]:
        victims: list[dict] = []
        for r in reversed(self._rows):
            if not match(r):
                break
            victims.append(r)
        victims.reverse()
        return victims

    def append_df(self, df) -> int:
        """Bulk path (interface parity): rows come to the driver in the
        canonical order and are indexed like ``store_logs``."""
        from ..operators.indexing import ORDER_COLS

        rows = df.orderBy(*ORDER_COLS).collect()
        return len(self.store_logs([r.asDict(recursive=True) for r in rows]))

    def compact(self, bucket: int | None = None) -> int:
        return 0  # nothing to compact in memory

    def compact_changelog(self, spark, finalized_below: int) -> dict:
        """Changelog retention, prune_changelog semantics (the in-memory
        twin of ParquetEntry.compact_changelog): below the finality
        horizon drop fully-retracted keys and superseded churn, keep the
        winning 'add' per surviving key; at/above the horizon keep rows
        verbatim.  ``spark`` unused (interface parity)."""
        before = len(self._rows)
        latest: dict[tuple, int] = {}  # key -> max indx
        for r in self._rows:
            k = (r["block_hash"], r["tx_index"], r["log_index"])
            latest[k] = max(latest.get(k, -1), r["indx"])

        def keep(r: dict) -> bool:
            return r["block_num"] >= finalized_below or (
                r["indx"] == latest[(r["block_hash"], r["tx_index"], r["log_index"])]
                and r.get("change_type") == "add"
            )

        # horizon bound = max over keys that lose rows of the key's
        # pre-compaction max indx (surviving winner, or final remove of
        # a vanished key) — NOT the max pruned indx, which is one short
        # when a superseded duplicate 'add' is pruned (round-7 review)
        dropped_key_maxes = [
            latest[(r["block_hash"], r["tx_index"], r["log_index"])]
            for r in self._rows
            if not keep(r)
        ]
        self._rows = [r for r in self._rows if keep(r)]
        if dropped_key_maxes:
            self._tt_horizon = max(self._tt_horizon, max(dropped_key_maxes))
        return {"rows_before": before, "rows_after": len(self._rows)}

    def time_travel_horizon(self) -> int:
        """Smallest changelog indx at which view_as_of reconstruction is
        exact (0 = never pruned) — backend parity with
        ParquetEntry.time_travel_horizon."""
        return self._tt_horizon

    def df(self, spark):
        from ..schemas import CHANGELOG_SCHEMA, LOG_SCHEMA

        schema = CHANGELOG_SCHEMA if self.changelog else LOG_SCHEMA
        cols = [f.name for f in schema.fields]
        return spark.createDataFrame(
            [tuple(r.get(c) for c in cols) for r in self._rows], schema
        )
