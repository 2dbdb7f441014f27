"""Parquet-backed Store/Entry — the engine's durable ordered log store.

Re-expresses the reference's pluggable store (interfaces at
store/store.go:6-36; backends inmem/boltdb/postgresql) as a
Spark-readable parquet layout:

    root/
      kv.json                       # KV metadata (Get/Set/ListPrefix)
      entries/<filter_hash>/
        meta.json                   # {"last_index": N}
        bucket=<k>/part-*.parquet   # k = indx // bucket_size

Why this layout scales:
  - ``bucket`` is a hive partition on the *sequence* key, so tail
    truncation (RemoveLogs(i), the reorg rollback S-6) only rewrites the
    bucket(s) at/above the boundary — under O-5 depth-bounded reorgs
    (tracker.go:33-35) that is always the newest bucket, never the 100 TB
    of finalized history.
  - Appends write new files; existing files are immutable (object-store
    friendly, no read-modify-write of data).
  - The whole entry is directly ``spark.read.parquet``-able with partition
    pruning on ``bucket`` (and row-group pruning on indx/block_num).

Micro-batch appends go through pyarrow (driver-side, the head path is
≤ backlog blocks); bulk backfill uses ``append_df`` (distributed Spark
write).  Both produce the same layout, but not the same parquet schema:
Spark marks ``indx``/``block_num``/``block_hash`` not-null, pyarrow
writes every column nullable.  Every driver-side read therefore goes
through ``ParquetEntry._read``, which reads any mix of the two into the
entry's one schema.

Durability contract matches the reference: StoreLogs persists before the
checkpoint advances (tracker.go:369-382), so a crash between the two
leaves a suffix above the checkpoint, which the tracker truncates on
resume (``scan_tail`` + ``remove_logs``).  ``remove_logs`` commits its
intent to meta.json first and makes the kept rows durable before any
file is deleted, so reopening after a crash finishes the truncation.
"""

from __future__ import annotations

import json
import os
import shutil
from pathlib import Path

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

ARROW_LOG_SCHEMA = pa.schema(
    [
        ("indx", pa.int64()),
        ("log_index", pa.int64()),
        ("tx_index", pa.int64()),
        ("tx_hash", pa.string()),
        ("block_num", pa.int64()),
        ("block_hash", pa.string()),
        ("address", pa.string()),
        ("topics", pa.list_(pa.string())),
        ("data", pa.binary()),
    ]
)


def _atomic_write_json(path: Path, obj) -> None:
    tmp = path.with_suffix(".tmp")
    tmp.write_text(json.dumps(obj, sort_keys=True))
    os.replace(tmp, path)


class ParquetStore:
    """Store (store/store.go:6-21): KV metadata + named entries."""

    def __init__(self, root: str | os.PathLike) -> None:
        self.root = Path(root)
        (self.root / "entries").mkdir(parents=True, exist_ok=True)
        self._kv_path = self.root / "kv.json"
        self._kv: dict[str, str] = (
            json.loads(self._kv_path.read_text()) if self._kv_path.exists() else {}
        )

    # -- KV (Get/Set/ListPrefix, store/store.go:7-14) -----------------------
    def get(self, key: str) -> str | None:
        return self._kv.get(key)

    def set(self, key: str, val: str) -> None:
        self._kv[key] = val
        _atomic_write_json(self._kv_path, self._kv)

    def list_prefix(self, prefix: str) -> list[tuple[str, str]]:
        return sorted((k, v) for k, v in self._kv.items() if k.startswith(prefix))

    # -- entries (GetEntry, store/store.go:16-20) ---------------------------
    def entry(
        self, filter_hash: str, bucket_size: int = 10_000, changelog: bool = False
    ) -> "ParquetEntry":
        schema = ARROW_LOG_SCHEMA
        if changelog:
            schema = schema.append(pa.field("change_type", pa.string()))
        return ParquetEntry(self.root / "entries" / filter_hash, bucket_size, schema)

    def changelog_entry(self, filter_hash: str, bucket_size: int = 10_000) -> "ParquetEntry":
        """Entry extended with a change_type column — the durable changelog
        stream (Event{Added,Removed} rows, tracker.go:841-846)."""
        return self.entry("changelog_" + filter_hash, bucket_size, changelog=True)


class ParquetEntry:
    """Entry (store/store.go:24-36): ordered, append-only, tail-truncatable."""

    def __init__(
        self, path: Path, bucket_size: int = 10_000, schema: pa.Schema = ARROW_LOG_SCHEMA
    ) -> None:
        self.path = Path(path)
        self.bucket_size = bucket_size
        self.schema = schema
        self.columns = [f.name for f in self.schema]
        self.path.mkdir(parents=True, exist_ok=True)
        self._meta_path = self.path / "meta.json"
        self._seq = 0  # next file sequence number, per-process
        staging = self.path / self._CC_STAGING
        if staging.exists():
            if (staging / "_COMMIT").exists():
                # crash mid-swap of a committed changelog compaction:
                # finish it (idempotent — see compact_changelog)
                self._cc_finish_swap(staging)
            else:
                # crash mid-staging: originals untouched, discard the stage
                shutil.rmtree(staging)
        if self._meta_path.exists():
            meta_obj = json.loads(self._meta_path.read_text())
            meta = meta_obj["last_index"]
            if meta_obj.get("truncating"):
                # crash mid-truncation: the truncate intent was committed
                # before file deletion — finish the job (rows >= meta are
                # doomed, whatever subset survived the crash)
                self._truncate(meta)
            else:
                # append-crash direction: data files commit before meta
                # (same order as the reference, tracker.go:369-382), so the
                # scan may be ahead of meta — trust the data
                self._last_index = max(meta, self._scan_last_index())
        else:
            self._last_index = self._scan_last_index()

    # -- LastIndex (store/store.go:25-26) -----------------------------------
    def last_index(self) -> int:
        """Next index to assign == 1 + max stored (0 when empty)."""
        return self._last_index

    def _scan_last_index(self) -> int:
        # walk buckets top-down: the highest bucket directory can be empty
        # after a crashed truncation — fall through to the next one
        for k in reversed(self._buckets()):
            mx = pc.max(self._read(self._bucket_files(k), ["indx"]).column("indx")).as_py()
            if mx is not None:
                return mx + 1
        return 0

    def _read(self, files: list[Path], columns=None, filters=None) -> pa.Table:
        """The one driver-side read of data files: a single scan of
        ``files`` in the entry schema, so files from ``store_logs`` and
        ``append_df`` (whose nullability differs) concatenate."""
        if not files:
            t = self.schema.empty_table()
            return t.select(columns) if columns else t
        return pq.read_table(files, columns=columns, filters=filters, schema=self.schema)

    def _buckets(self) -> list[int]:
        return sorted(
            int(p.name.split("=", 1)[1])
            for p in self.path.iterdir()
            if p.is_dir() and p.name.startswith("bucket=")
        )

    def _bucket_files(self, k: int) -> list[Path]:
        d = self.path / f"bucket={k}"
        return sorted(d.glob("*.parquet")) if d.exists() else []

    def _commit_meta(self) -> None:
        _atomic_write_json(self._meta_path, {"last_index": self._last_index})

    # -- StoreLogs (store/store.go:28-29; append batch, assign indx) --------
    def store_logs(self, logs: list[dict]) -> list[dict]:
        """Append raw logs (no indx), assigning consecutive indx starting
        at last_index — the serialization point the reference implements
        with LastIndex()+i (postgresql_store.go:111-130). Returns the
        indexed rows."""
        if not logs:
            return []
        rows = []
        for i, lg in enumerate(logs):
            r = dict(lg)
            r["indx"] = self._last_index + i
            rows.append(r)
        by_bucket: dict[int, list[dict]] = {}
        for r in rows:
            by_bucket.setdefault(r["indx"] // self.bucket_size, []).append(r)
        for k, rs in sorted(by_bucket.items()):
            d = self.path / f"bucket={k}"
            d.mkdir(exist_ok=True)
            t = pa.Table.from_pylist(
                [{c: r.get(c) for c in self.columns} for r in rs], schema=self.schema
            )
            pq.write_table(t, d / f"part-{self._last_index:012d}-{self._seq:06d}.parquet")
            self._seq += 1
        self._last_index += len(rows)
        self._commit_meta()
        return rows

    # -- RemoveLogs (store/store.go:31-32; tail truncation from indx) -------
    def remove_logs(self, indx: int) -> None:
        """Delete every log with indx >= ``indx`` (reorg rollback, S-6).
        Whole buckets above the boundary are dropped; the boundary bucket
        is rewritten filtered — the only data rewrite a depth-bounded
        reorg ever does."""
        if indx >= self._last_index:
            return
        # commit the truncate INTENT before touching files: a crash during
        # deletion must not let recovery resurrect the doomed tail (the
        # append direction commits data-then-meta; truncation is the
        # opposite — meta-then-data)
        _atomic_write_json(self._meta_path, {"last_index": indx, "truncating": True})
        self._truncate(indx)

    def _truncate(self, indx: int) -> None:
        """The file work of ``remove_logs(indx)``; idempotent, so reopen
        re-runs it after a crash.  The boundary bucket's kept rows land
        in ``part-rewrite-<indx>`` (tmp + rename) before any original
        is unlinked: once that file exists it holds every row below
        ``indx`` of the bucket, and the other files are only unlinked."""
        boundary = indx // self.bucket_size
        for k in self._buckets():
            if k > boundary:
                shutil.rmtree(self.path / f"bucket={k}")
        d = self.path / f"bucket={boundary}"
        keep = d / f"part-rewrite-{indx:012d}.parquet"
        files = self._bucket_files(boundary)
        if keep not in files:
            kept = self._read(files, filters=[("indx", "<", indx)])
            if kept.num_rows:
                pq.write_table(kept, d / "_rewrite.tmp")
                os.replace(d / "_rewrite.tmp", keep)
        for f in files:
            if f != keep:
                f.unlink()
        if d.exists() and not self._bucket_files(boundary):
            shutil.rmtree(d)
        self._last_index = indx
        self._commit_meta()

    # -- GetLog (store/store.go:34-35; point lookup) ------------------------
    def get_log(self, indx: int) -> dict | None:
        t = self._read(self._bucket_files(indx // self.bucket_size), filters=[("indx", "=", indx)])
        return t.to_pylist()[0] if t.num_rows else None

    # -- distributed access --------------------------------------------------
    def df(self, spark):
        """The entry as a Spark DataFrame (partition-pruned on bucket).
        Unordered — an orderBy here would force a global sort exchange on
        every read; callers that need the sequence order by `indx` (which
        parquet row-group stats make cheap to range-filter)."""
        files = [str(f) for k in self._buckets() for f in self._bucket_files(k)]
        if not files:
            from ..schemas import LOG_SCHEMA

            return spark.createDataFrame([], LOG_SCHEMA)
        return spark.read.parquet(*files)

    def tail_df(self, spark, max_rows: int):
        """The trailing bucket(s) covering at least the last ``max_rows``
        rows, as a DataFrame — O(tail), never O(entry).  The replay guard
        uses this: a re-delivered micro-batch can only collide with the
        final committed append, so only that suffix needs scanning.
        Returns None when the entry is empty."""
        lo_bucket = max(0, self._last_index - max_rows) // self.bucket_size
        files = [
            str(f)
            for k in self._buckets()
            if k >= lo_bucket
            for f in self._bucket_files(k)
        ]
        if not files:
            return None
        return spark.read.parquet(*files)

    def append_df(self, df) -> int:
        """Bulk path: append a Spark DataFrame of raw logs (no indx).
        Distributed write — assigns indx via the scalable two-phase
        sequence, partitions by bucket, then advances the meta counter.
        Returns rows appended."""
        from pyspark.sql import functions as F  # noqa: N812

        from ..operators.indexing import assign_indx_scalable

        base = self._last_index
        indexed = (
            assign_indx_scalable(df, base=base)
            .withColumn("bucket", (F.col("indx") / self.bucket_size).cast("long"))
            .select(*self.columns, "bucket")
            .persist()  # pin: count and write must see the same rows
        )
        n = indexed.count()
        indexed.write.mode("append").partitionBy("bucket").parquet(str(self.path))
        indexed.unpersist()
        self._last_index = base + n
        self._commit_meta()
        return n

    def scan_tail(self, match) -> list[dict]:
        """Reverse tail walk (removeLogs's cursor walk, tracker.go:717-754):
        the maximal suffix of rows for which ``match(row)`` holds,
        oldest-first; ``match`` sees ``indx``, ``block_num`` and
        ``block_hash``.  Reads only the bucket(s) the suffix touches —
        O(tail), never O(entry)."""
        # pass 1: locate the boundary reading ONLY the key columns — a
        # shallow reorg never deserializes the wide columns of a 10k-row
        # bucket just to peel off a few victims
        boundary: int | None = None
        for k in reversed(self._buckets()):
            keys = self._read(self._bucket_files(k), ["indx", "block_num", "block_hash"])
            for r in reversed(keys.sort_by("indx").to_pylist()):
                if not match(r):
                    break
                boundary = r["indx"]
            else:
                continue  # bucket empty or fully matched → previous bucket
            break
        if boundary is None:
            return []
        # pass 2: fetch the full victim rows (exactly the tail)
        lo, hi = boundary // self.bucket_size, (self._last_index - 1) // self.bucket_size
        files = [f for k in range(lo, hi + 1) for f in self._bucket_files(k)]
        return self._read(files, filters=[("indx", ">=", boundary)]).sort_by("indx").to_pylist()

    def compact(self, bucket: int | None = None) -> int:
        """Merge a bucket's small files into one (head micro-batches write
        a file per batch; finalized buckets should be single large files
        for scan efficiency).  Returns files merged.  At 100 TB this is
        the routine run on buckets crossing the finality boundary — they
        are immutable afterwards, so compaction is safe and one-shot."""
        targets = [bucket] if bucket is not None else self._buckets()
        merged_count = 0
        for k in targets:
            files = self._bucket_files(k)
            if len(files) <= 1:
                continue
            t = self._read(files).sort_by("indx")
            tmp = self.path / f"bucket={k}" / "_compact.tmp"
            pq.write_table(t, tmp)
            for f in files:
                f.unlink()
            os.replace(tmp, self.path / f"bucket={k}" / f"part-compacted-{k:06d}.parquet")
            merged_count += len(files)
        return merged_count

    # -- changelog retention compaction --------------------------------------
    _CC_STAGING = "_cc_staging"
    _TT_HORIZON = "_TT_HORIZON"

    def compact_changelog(self, spark, finalized_below: int) -> dict:
        """Store-level changelog retention: rewrite the bucket(s) holding
        finalized history so the on-disk changelog shrinks to
        O(live + recent), applying exactly the ``prune_changelog``
        semantics (streaming/pipeline.py): below the depth-finality
        horizon (the reference's immutability boundary at
        head − MaxBlockBacklog, tracker.go:33-35,313) fully-retracted
        keys vanish and surviving keys keep only their winning 'add' row;
        rows at/above the horizon are kept verbatim.

        Distributed: affected buckets are read as one DataFrame, pruned,
        repartitioned by bucket and staged by Spark; the driver then swaps
        bucket directories.  Only buckets that actually contain
        below-horizon rows are touched — at 100 TB each periodic run
        rewrites the few buckets newly crossing the horizon, never the
        finalized ocean behind them.

        Crash-safe (stage → commit-marker → swap): a crash before the
        ``_COMMIT`` marker discards the partial staging on next open; a
        crash after it finishes the per-bucket swap, which is idempotent
        because a staged bucket directory disappears exactly when its
        swap completes.  ``current_view`` over the entry is bit-identical
        before and after (pinned in tests/test_pipeline.py).

        Returns stats: buckets_rewritten/dropped, files and rows
        before/after over the affected buckets."""
        from pyspark.sql import functions as F  # noqa: N812

        from ..streaming.pipeline import prune_changelog

        affected: list[int] = []
        files_before = rows_before = 0
        for k in self._buckets():
            fs = self._bucket_files(k)
            mn = pc.min(self._read(fs, ["block_num"]).column("block_num")).as_py()
            if mn is not None and mn < finalized_below:
                affected.append(k)
                files_before += len(fs)
                rows_before += sum(pq.ParquetFile(f).metadata.num_rows for f in fs)
        if not affected:
            return {
                "buckets_rewritten": 0,
                "buckets_dropped": 0,
                "files_before": 0,
                "files_after": 0,
                "rows_before": 0,
                "rows_after": 0,
            }

        staging = self.path / self._CC_STAGING
        if staging.exists():
            shutil.rmtree(staging)  # stale pre-commit leftovers
        src = [str(f) for k in affected for f in self._bucket_files(k)]
        before_df = spark.read.parquet(*src)
        pruned = prune_changelog(before_df, finalized_below)
        (
            pruned.select(*self.columns)
            .withColumn("bucket", (F.col("indx") / self.bucket_size).cast("long"))
            .repartition("bucket")  # one file per rewritten bucket
            .write.partitionBy("bucket")
            .parquet(str(staging))
        )
        # Time-travel horizon (round-6 advice #6): reconstruction below
        # the bound would silently omit collapsed history, so persist it
        # — staged before the commit marker, installed by the same
        # idempotent swap — and let view_as_of(exact_from=...) raise
        # below it.  The bound is, for every key that LOSES rows, that
        # key's pre-compaction max indx (the surviving winner, or the
        # final remove of a vanished key): a plain "max pruned indx"
        # is one short when a superseded duplicate 'add' is pruned —
        # the full log shows the key live between the two adds, the
        # compacted log cannot (round-7 review).  Joins touch only the
        # affected buckets (indx unique) — a bounded extra job.
        from ..streaming.pipeline import NATURAL_KEY

        key_max = before_df.groupBy(*NATURAL_KEY).agg(F.max("indx").alias("_kmax"))
        dropped_keys = (
            before_df.join(pruned.select("indx"), "indx", "left_anti")
            .select(*NATURAL_KEY)
        )
        dropped_bound = (
            dropped_keys.join(key_max, list(NATURAL_KEY)).agg(F.max("_kmax")).first()[0]
        )
        if dropped_bound is not None:
            new_horizon = max(self.time_travel_horizon(), int(dropped_bound))
            (staging / self._TT_HORIZON).write_text(
                json.dumps({"exact_from_indx": new_horizon})
            )
        staged = {
            int(p.name.split("=", 1)[1])
            for p in staging.iterdir()
            if p.is_dir() and p.name.startswith("bucket=")
        }
        (staging / "_COMMIT").touch()
        # buckets whose every row was pruned are deleted only AFTER the
        # commit marker: deleting them earlier opened a crash window
        # where history was gone but recovery discarded the staged
        # _TT_HORIZON with the uncommitted staging — horizon 0, silent
        # wrong time-travel (round-7 review).  A crash between the
        # marker and these deletes leaves the dead buckets in place —
        # harmless (fully-retracted keys are invisible to current_view,
        # extra history only widens time-travel) and swept by the next
        # compaction, whose listing re-flags them as affected.
        for k in affected:
            if k not in staged and (self.path / f"bucket={k}").exists():
                shutil.rmtree(self.path / f"bucket={k}")
        self._cc_finish_swap(staging)
        files_after = rows_after = 0
        for k in staged:
            fs = self._bucket_files(k)
            files_after += len(fs)
            rows_after += sum(pq.ParquetFile(f).metadata.num_rows for f in fs)
        return {
            "buckets_rewritten": len(staged),
            "buckets_dropped": len(affected) - len(staged),
            "files_before": files_before,
            "files_after": files_after,
            "rows_before": rows_before,
            "rows_after": rows_after,
        }

    def _cc_finish_swap(self, staging: Path) -> None:
        """Swap staged bucket dirs (and the staged time-travel horizon)
        into place, then clear staging.  Idempotent resume point for
        post-_COMMIT crash recovery."""
        for p in sorted(staging.iterdir()):
            if p.is_dir() and p.name.startswith("bucket="):
                target = self.path / p.name
                if target.exists():
                    shutil.rmtree(target)
                os.rename(p, target)
        staged_horizon = staging / self._TT_HORIZON
        if staged_horizon.exists():
            os.replace(staged_horizon, self.path / self._TT_HORIZON)
        shutil.rmtree(staging)

    def time_travel_horizon(self) -> int:
        """Smallest changelog indx at which ``view_as_of`` reconstruction
        is exact (0 = never compacted, full history intact).  Advanced by
        ``compact_changelog`` to the max indx it pruned away."""
        p = self.path / self._TT_HORIZON
        if p.exists():
            return int(json.loads(p.read_text())["exact_from_indx"])
        return 0

    def all_logs(self) -> list[dict]:
        """Driver-side full read, ordered by indx (test/verification helper)."""
        out: list[dict] = []
        for k in self._buckets():  # one bucket's table in memory at a time
            out.extend(self._read(self._bucket_files(k)).to_pylist())
        return sorted(out, key=lambda r: r["indx"])
