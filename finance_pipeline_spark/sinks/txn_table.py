"""Transactional keyed table — a minimal Delta-style commit log over
parquet, giving the reference's ``UNIQUE`` + ``INSERT OR IGNORE``
semantic (etl/csv_loader.py:133,148-218) ENGINE-enforced atomicity
under CONCURRENT writers, not writer-discipline (the plain parquet
``keyed_writer.idempotent_append``) or fail-fast locking
(``writer_lock``).

Design (from the public Delta Lake protocol / paper — "Delta Lake:
High-Performance ACID Table Storage over Cloud Object Stores",
VLDB 2020):

- Data files are immutable parquet parts under ``<path>/data/``,
  written with UUID names so writers never collide on a filename.
- The table state is defined ONLY by the commit log: ``<path>/_txnlog/
  00000000.json, 00000001.json, ...`` — each commit lists the data
  files it adds. A data file not referenced by a committed version is
  invisible garbage; readers can never observe a torn write.
- Commit N+1 is claimed by creating ``_txnlog/%08d.json`` with
  ``O_CREAT|O_EXCL`` — atomic on POSIX. On an object store the same
  slot-claim is a conditional PUT (S3 ``If-None-Match: *``, GCS
  ``ifGenerationMatch=0``); the protocol is unchanged.
- Optimistic concurrency: a writer snapshots version V, anti-joins its
  batch against the snapshot, stages new data files, then tries to
  claim V+1. If another writer got there first, it does NOT restart
  from scratch: it reads only the files added by commits V+1..V'
  (the conflict delta), drops any of its staged rows whose key now
  exists, rewrites only if needed, and claims V'+1. Insert-only
  uniqueness commutes, so this re-validation is sufficient — exactly
  Delta's conflict-detection rule specialized to blind inserts.
- ``upsert`` (MERGE: WHEN MATCHED UPDATE / WHEN NOT MATCHED INSERT)
  extends a commit with ``removes``: the files holding matched rows
  are logically removed and rewritten (survivor rows + the incoming
  batch) as new adds — the copy-on-write file rewrite Delta's MERGE
  compiles to. Upserts do NOT commute, so a lost race restarts from
  the fresh snapshot instead of re-validating the delta (conservative
  side of Delta's conflict matrix; blind inserts keep the cheap path).
- Every ``CHECKPOINT_EVERY`` commits the winner also writes
  ``%08d.checkpoint.json`` holding the full file list, so a reader
  lists the log tail from the latest checkpoint instead of replaying
  the whole history — the log-compaction half of the Delta protocol,
  which is what keeps a years-old 100 TB table's open cost O(1).
- Each commit records per-file, per-column MIN/MAX stats (read from
  the parquet footers at stage time — no extra data pass). Readers
  prune the file list against predicates BEFORE Spark ever lists the
  files (``read(bounds=...)``), and ``merge``/``upsert`` prune their
  existing-key probes to the incoming batch's key range — Delta's
  data-skipping half. On a key-clustered 100 TB table this turns a
  point lookup or a date-window read from "open every file" into
  "open the handful whose range overlaps".

Snapshot isolation falls out for free: ``read(version=K)`` pins any
historical version (time travel), and a long query holds its file list
while later commits land.

At 100 TB the anti-join side is the only scale question, and it is the
same one the plain writer answers: key-partition/bucket the data
layout so the probe prunes; the log itself stays tiny (file names, not
data).
"""

from __future__ import annotations

import errno
import json
import os
import shutil
import time
import uuid
from dataclasses import dataclass, field
from pathlib import Path
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from finance_pipeline_spark.logging_utils import get_logger
from finance_pipeline_spark.sinks.keyed_writer import WriteStats, _footer_row_count

log = get_logger(__name__)

CHECKPOINT_EVERY = 10
_MAX_COMMIT_RETRIES = 20


class CommitConflictError(RuntimeError):
    """Raised only when a writer loses the commit race more than
    ``_MAX_COMMIT_RETRIES`` times in a row — livelock, not a logic
    error; the batch was never partially applied."""


@dataclass(frozen=True)
class UpsertStats:
    inserted: int  # keys absent from the snapshot — new rows
    updated: int  # keys present — their rows replaced


@dataclass(frozen=True)
class Snapshot:
    version: int  # -1 = empty table
    files: tuple[str, ...]  # data-file names relative to <path>/data/
    # per-file → per-column → [type_tag, min, max] (JSON form); files
    # committed before stats existed simply have no entry and are
    # never pruned — old logs stay readable.
    stats: dict[str, dict[str, list]] = field(default_factory=dict)


def _log_dir(path: str) -> Path:
    return Path(path) / "_txnlog"


def _data_dir(path: str) -> Path:
    return Path(path) / "data"


def _commit_file(path: str, version: int) -> Path:
    return _log_dir(path) / f"{version:08d}.json"


def _checkpoint_file(path: str, version: int) -> Path:
    return _log_dir(path) / f"{version:08d}.checkpoint.json"


def _fsync_dir(d: Path) -> None:
    """Make a just-created/renamed DIRENT durable: fsyncing the file
    alone persists its bytes, not the directory entry pointing at
    them — on power loss an acknowledged commit could vanish (r13
    advisor). Best-effort: some filesystems/platforms reject opening
    a directory for fsync; there the dirent guarantee is whatever the
    OS gives, and swallowing the error is strictly no worse than the
    pre-fix behavior."""
    try:
        fd = os.open(d, os.O_RDONLY)
    except OSError:
        return
    try:
        os.fsync(fd)
    except OSError:
        pass
    finally:
        os.close(fd)


# -- file-level min/max stats (the data-skipping substrate) -------------


def _stat_encode(v) -> list | None:
    """JSON-encode one stats endpoint as [tag, value]; None = the type
    has no safe total order across the JSON round-trip (binary, nested)
    and the column is dropped from stats — never pruned, never wrong."""
    import datetime
    import decimal

    if isinstance(v, bool):  # before int: bool is an int subclass
        return ["bool", v]
    if isinstance(v, int):
        return ["int", v]
    if isinstance(v, float):
        return ["float", v]
    if isinstance(v, str):
        return ["str", v]
    if isinstance(v, datetime.datetime):
        return ["ts", v.isoformat()]
    if isinstance(v, datetime.date):
        return ["date", v.isoformat()]
    if isinstance(v, decimal.Decimal):
        return ["dec", str(v)]
    return None


def _stat_decode(tag: str, v):
    import datetime
    import decimal

    if tag == "ts":
        return datetime.datetime.fromisoformat(v)
    if tag == "date":
        return datetime.date.fromisoformat(v)
    if tag == "dec":
        return decimal.Decimal(v)
    return v  # int/float/str/bool round-trip natively


def _footer_stats(parts: list[Path]) -> dict[str, dict[str, list]]:
    """Per-file [min, max] per top-level primitive column, read from the
    parquet FOOTER row-group statistics — no data pages touched, so
    staging cost stays O(files), not O(rows). A column qualifies only
    when every row group carries min/max (a single stats-less chunk
    makes the file range unknown — recording a partial range would
    prune files that actually match, i.e. silent data loss). Truncated
    string stats are still safe: parquet writers truncate min DOWN and
    max UP, so the recorded interval always covers the true one."""
    import pyarrow.parquet as pq

    out: dict[str, dict[str, list]] = {}
    for part in parts:
        md = pq.ParquetFile(part).metadata
        mins: dict[str, object] = {}
        maxs: dict[str, object] = {}
        bad: set[str] = set()
        for rg in range(md.num_row_groups):
            for ci in range(md.num_columns):
                cc = md.row_group(rg).column(ci)
                name = cc.path_in_schema
                if "." in name:  # nested leaf — no top-level order
                    bad.add(name.split(".")[0])
                    continue
                st = cc.statistics
                if st is None or not st.has_min_max:
                    bad.add(name)
                    continue
                if name not in mins or st.min < mins[name]:
                    mins[name] = st.min
                if name not in maxs or st.max > maxs[name]:
                    maxs[name] = st.max
        cols: dict[str, list] = {}
        for name in mins:
            if name in bad:
                continue
            lo, hi = _stat_encode(mins[name]), _stat_encode(maxs[name])
            if lo is None or hi is None or lo[0] != hi[0]:
                continue
            cols[name] = [lo[0], lo[1], hi[1]]
        out[part.name] = cols
    return out


_FILE_BLOOM_BITS = 1 << 16  # 8 KiB per (file, key col) in the log
_FILE_BLOOM_MAX_KEYS = 8192  # past this the bitmap saturates (>8 bits/key
# needed) — skip the bloom, min/max still applies. That cap matches the
# workload blooms exist for: small unsorted append/merge commits whose
# every file spans the key domain (min/max prunes nothing there); big
# compacted files are key-sorted and already prune to one file by range.
# A production deployment past the cap spills bitmaps to sidecar files
# instead of the JSON log (Delta's bloom index layout).


def _file_bloom_indexes(value) -> list[int]:
    """4 bit positions for one key value — md5 over the value's
    canonical string, four 32-bit slices. Canonical form must agree
    between stage-time (values read back from parquet) and probe-time
    (caller-supplied bound), so only int and str key columns get
    blooms — their str() round-trips exactly."""
    import hashlib

    h = hashlib.md5(str(value).encode("utf-8")).hexdigest()
    return [
        int(h[i * 8 : (i + 1) * 8], 16) % _FILE_BLOOM_BITS for i in range(4)
    ]


def _file_blooms(parts: list[Path], keys: list[str]) -> dict[str, dict[str, str]]:
    """Per-file Bloom bitmap (base64) over each int/str KEY column —
    the point-lookup complement to min/max: an unsorted append's every
    file spans [min, max], but a key absent from a file misses its
    bloom and the file is skipped. One column read per staged file —
    O(batch just written), never O(table)."""
    import base64

    import pyarrow.parquet as pq

    out: dict[str, dict[str, str]] = {}
    for part in parts:
        # footer row count first: a keyed file with more rows than the
        # bitmap cap can't stay under it (staged batches are key-deduped),
        # so skip its key-column read entirely — this is what keeps
        # compact()'s ~1M-row rewrites from paying an O(table) scan for
        # bitmaps that would be discarded anyway
        pf = pq.ParquetFile(part)
        if pf.metadata.num_rows > _FILE_BLOOM_MAX_KEYS:
            out[part.name] = {}
            continue
        # a key column can be absent from an individual file (additive
        # schema evolution: a survivor rewrite of pre-upgrade files
        # stages their old schema) — a bloom is a skip optimization,
        # so just don't build one for the missing column
        present = [k for k in keys if k in pf.schema_arrow.names]
        tbl = pq.read_table(part, columns=present)
        cols: dict[str, str] = {}
        for k in present:
            vals = tbl.column(k).to_pylist()
            uniq = {v for v in vals if v is not None}
            if not uniq or len(uniq) > _FILE_BLOOM_MAX_KEYS:
                continue
            # exact types only (no bool-as-int): the probe-side guard
            # in _file_matches requires tag int↔int / str↔str
            if not all(type(v) in (int, str) for v in uniq):
                continue
            bits = bytearray(_FILE_BLOOM_BITS >> 3)
            for v in uniq:
                for i in _file_bloom_indexes(v):
                    bits[i >> 3] |= 1 << (i & 7)
            cols[k] = base64.b64encode(bytes(bits)).decode("ascii")
        out[part.name] = cols
    return out


def _bloom_may_contain(b64: str, value) -> bool:
    import base64

    bits = base64.b64decode(b64)
    return all(
        bits[i >> 3] & (1 << (i & 7)) for i in _file_bloom_indexes(value)
    )


def _file_matches(col_stats: dict[str, list] | None, bounds: dict) -> bool:
    """May this file contain a row inside ``bounds``? ``bounds`` maps
    column → (lo, hi), either end None for open. Missing stats (old
    commits, unsupported type, stats-less chunk) keep the file —
    pruning is an optimization, never a filter."""
    if not col_stats:
        return True
    for col, (lo, hi) in bounds.items():
        tagged = col_stats.get(col)
        if tagged is not None:
            tag, mn, mx = tagged
            mn, mx = _stat_decode(tag, mn), _stat_decode(tag, mx)
            try:
                if lo is not None and mx < lo:
                    return False
                if hi is not None and mn > hi:
                    return False
            except TypeError:  # incomparable caller type — keep (safe)
                pass
        # point lookup (lo == hi): the per-file key bloom prunes files
        # the range check can't — every file of an unsorted append
        # spans [min, max], but an absent key misses the bitmap.
        # TYPE guard: the bitmap hashes str(stored_value), so the probe
        # value must canonicalize identically — require its Python type
        # to match the recorded range tag (int↔int, str↔str). A probe
        # of 303.0 against a bigint key would str() to "303.0" vs the
        # stored "303" and false-negative; with the guard it just skips
        # the bloom (range stats still apply) — pruning stays a
        # superset guarantee for any caller type.
        if lo is not None and lo == hi:
            tag_ok = (
                tagged is not None
                and (
                    (tagged[0] == "int" and type(lo) is int)
                    or (tagged[0] == "str" and type(lo) is str)
                )
            )
            b64 = col_stats.get(f"bloom:{col}")
            if tag_ok and isinstance(b64, str) and not _bloom_may_contain(b64, lo):
                return False
    return True


def _prune_files(snap: Snapshot, bounds: dict | None) -> list[str]:
    if not bounds:
        return list(snap.files)
    return [f for f in snap.files if _file_matches(snap.stats.get(f), bounds)]


def current_snapshot(path: str, version: int | None = None) -> Snapshot:
    """Replay the log (from the newest checkpoint at or below the
    requested version) into the set of live data files."""
    ld = _log_dir(path)
    if not ld.exists():
        return Snapshot(version=-1, files=())
    commits = sorted(int(p.name[:8]) for p in ld.glob("[0-9]*.json") if ".checkpoint" not in p.name)
    if version is not None:
        commits = [v for v in commits if v <= version]
        if version > -1 and (not commits or commits[-1] != version):
            raise ValueError(f"version {version} does not exist in {ld}")
    if not commits:
        return Snapshot(version=-1, files=())
    ckpts = sorted(
        int(p.name[:8])
        for p in ld.glob("[0-9]*.checkpoint.json")
        if int(p.name[:8]) <= commits[-1]
    )
    files: list[str] = []
    stats: dict[str, dict[str, list]] = {}
    start = 0
    if ckpts:
        ck = json.loads(_checkpoint_file(path, ckpts[-1]).read_text())
        files.extend(ck["files"])
        stats.update(ck.get("stats", {}))
        start = ckpts[-1] + 1
    for v in commits:
        if v < start:
            continue
        entry = json.loads(_commit_file(path, v).read_text())
        removes = set(entry.get("removes", ()))
        if removes:
            files = [f for f in files if f not in removes]
            for f in removes:
                stats.pop(f, None)
        files.extend(entry["adds"])
        stats.update(entry.get("stats", {}))
    return Snapshot(version=commits[-1], files=tuple(files), stats=stats)


class TxnKeyedTable:
    """``merge(incoming)`` = atomically insert rows whose key is absent,
    skip the rest, report both counts — safe under concurrent writers.

    Returns the same ``WriteStats`` accounting as the single-writer
    ``keyed_writer.idempotent_append``.
    """

    def __init__(self, spark: SparkSession, path: str, keys: list[str]):
        self.spark = spark
        self.path = path
        self.keys = list(keys)

    # -- read side ---------------------------------------------------

    def exists(self) -> bool:
        return current_snapshot(self.path).version >= 0

    def snapshot(self, version: int | None = None) -> Snapshot:
        return current_snapshot(self.path, version)

    def history(self) -> list[dict]:
        """One dict per commit, oldest first: version, adds/removes
        counts, rows inserted, and the writer-recorded op stats — the
        DESCRIBE HISTORY surface an operator debugging a table reads
        first. Driver-side log scan, O(commits), no data files touched.
        Commits whose entry predates a field report it as absent."""
        out: list[dict] = []
        v = 0
        while True:
            p = _commit_file(self.path, v)
            if not p.exists():
                break
            entry = json.loads(p.read_text())
            out.append(
                {
                    "version": v,
                    "adds": len(entry.get("adds", [])),
                    "removes": len(entry.get("removes", [])),
                    "inserted": entry.get("inserted"),
                }
            )
            v += 1
        return out

    def restore(self, version: int) -> int:
        """RESTORE the table to committed ``version`` as a NEW commit
        (Delta's RESTORE): the new snapshot's file set becomes exactly
        the target version's. Nothing is copied — the old files are
        still on disk because ``vacuum`` never reclaims committed
        files of ANY version — so the commit is metadata-only: adds =
        target files not currently live (with their original stats
        resurrected, so data skipping keeps working), removes = live
        files the target lacks. History keeps growing forward; a
        restore of a restore round-trips. Returns the new version.

        Concurrency: conservative restart like ``upsert`` — the file
        set being restored is computed against one pinned snapshot, so
        a lost race recomputes against the fresh one rather than
        silently dropping the racer's commit."""
        target = current_snapshot(self.path, version)
        if version < 0 or target.version != version:
            # version < 0 must be rejected explicitly: replaying "up to
            # -1" yields the empty Snapshot(version=-1), which would
            # sail through the equality check and commit a table-wide
            # truncation for the Python "last element" idiom
            raise ValueError(
                f"version {version} is not a committed version of {self.path}"
            )
        for _ in range(_MAX_COMMIT_RETRIES):
            snap = current_snapshot(self.path)
            live = set(snap.files)
            wanted = set(target.files)
            adds = [f for f in target.files if f not in live]
            removes = [f for f in snap.files if f not in wanted]
            stats = {f: target.stats[f] for f in adds if f in target.stats}
            if self._try_commit(
                snap.version + 1, adds, 0, removes=removes, stats=stats
            ):
                log.info(
                    "txn restore v%d of %s to v%d: +%d files, -%d files",
                    snap.version + 1, self.path, version, len(adds), len(removes),
                )
                return snap.version + 1
        raise CommitConflictError(
            f"lost the commit race {_MAX_COMMIT_RETRIES} times on {self.path}"
        )

    def read(
        self,
        version: int | None = None,
        bounds: dict | None = None,
    ) -> DataFrame | None:
        """A consistent snapshot: only files referenced by committed
        versions ≤ ``version`` (default: latest). Files from in-flight
        or abandoned writes are never listed, so readers need no lock.
        ``mergeSchema`` unions file schemas, so a batch that added a
        column reads alongside older files (absent values null) — the
        additive half of schema evolution; type changes still fail.

        ``bounds`` — {column: (lo, hi)}, either end None for open —
        prunes the file list against the commit-log min/max stats
        BEFORE Spark lists anything: a point lookup or date-window read
        on a key-clustered 100 TB table opens only the overlapping
        files. Pruning is a superset guarantee, not a filter — callers
        still apply their own predicate; files without stats are kept.
        An empty pruned set returns an empty DataFrame with the full
        snapshot schema (read from one file, filtered to nothing)."""
        snap = current_snapshot(self.path, version)
        if snap.version < 0 or not snap.files:
            # a full-table delete can leave a committed snapshot with
            # ZERO files (zero-row survivor parts are not published) —
            # no file means no schema source, so read as "no data"
            return None
        keep = _prune_files(snap, bounds)
        if not keep and snap.files:
            one = self.spark.read.option("mergeSchema", "true").parquet(
                str(_data_dir(self.path) / snap.files[0])
            )
            return one.filter(F.lit(False))
        paths = [str(_data_dir(self.path) / f) for f in keep]
        return self.spark.read.option("mergeSchema", "true").parquet(*paths)

    def files_for(
        self, bounds: dict | None = None, version: int | None = None
    ) -> list[str]:
        """The data files a ``read(bounds=...)`` would open — the
        observable contract file-skipping tests pin."""
        return _prune_files(current_snapshot(self.path, version), bounds)

    def diff(self, v_from: int, v_to: int | None = None) -> DataFrame:
        """Change data feed between two committed versions: one row per
        key whose state differs, tagged ``_change`` in {'insert',
        'update', 'delete'} with the v_to-side values (null value
        columns on delete) — the read path downstream incremental
        consumers poll instead of re-scanning the table (Delta's CDF
        surface, derived here by diffing snapshots; a log-native CDF
        would additionally persist per-commit change files).

        Cost is a full-outer join of the two snapshots on the key —
        bounded by the table, not the log; with a key-partitioned
        layout both sides prune to the partitions the commits touched.

        The ``created_at`` staging stamp is excluded from both the
        comparison and the output: a copy-on-write rewrite re-stamps
        survivor rows it merely relocated, which is not a user-visible
        change."""
        old = self.read(version=v_from)
        new = self.read(version=v_to)
        if old is None or new is None:
            raise ValueError("diff endpoints must be committed versions")
        value_cols = [
            c for c in new.columns if c not in self.keys and c != "created_at"
        ]
        o = old.alias("o")
        n = new.alias("n")
        cond = [F.col(f"o.{k}").eqNullSafe(F.col(f"n.{k}")) for k in self.keys]
        joined = o.join(n, cond, "full_outer")
        o_key, n_key = F.col(f"o.{self.keys[0]}"), F.col(f"n.{self.keys[0]}")
        changed = F.lit(False)
        for c in value_cols:
            changed = changed | ~F.col(f"o.{c}").eqNullSafe(F.col(f"n.{c}"))
        return (
            joined.select(
                *[
                    F.coalesce(F.col(f"n.{k}"), F.col(f"o.{k}")).alias(k)
                    for k in self.keys
                ],
                *[F.col(f"n.{c}").alias(c) for c in value_cols],
                F.when(o_key.isNull(), "insert")
                .when(n_key.isNull(), "delete")
                .when(changed, "update")
                .alias("_change"),
            )
            .filter(F.col("_change").isNotNull())
        )

    # -- write side --------------------------------------------------

    def merge(
        self,
        incoming: DataFrame,
        _before_commit: Callable[[int], None] | None = None,
    ) -> WriteStats:
        """Insert-if-absent with optimistic concurrency.

        ``_before_commit(version_about_to_claim)`` is a test seam: it
        runs after staging but before the commit-claim, which is the
        window a concurrent writer can win — tests use it to force the
        conflict re-validation path deterministically.
        """
        total = incoming.count()
        deduped = self._dedup_batch(incoming)
        snap = current_snapshot(self.path)
        new_rows = self._against(deduped, snap)
        staged, inserted, stats = self._stage(new_rows)

        for _ in range(_MAX_COMMIT_RETRIES):
            if _before_commit is not None:
                _before_commit(snap.version + 1)
                _before_commit = None  # fire once
            if inserted == 0:
                self._discard(staged)
                return WriteStats(inserted=0, skipped=total)
            if self._try_commit(snap.version + 1, staged, inserted, stats=stats):
                log.info(
                    "txn commit v%d to %s: %d inserted, %d skipped",
                    snap.version + 1, self.path, inserted, total - inserted,
                )
                return WriteStats(inserted=inserted, skipped=total - inserted)
            # Lost the race: validate only against the conflict delta
            # (files added since our snapshot), not the whole table.
            newer = current_snapshot(self.path)
            delta_files = [f for f in newer.files if f not in set(snap.files)]
            staged, inserted, stats = self._revalidate(
                staged, inserted, stats, delta_files
            )
            snap = newer
        self._discard(staged)
        raise CommitConflictError(
            f"lost the commit race {_MAX_COMMIT_RETRIES} times on {self.path}"
        )

    def upsert(
        self,
        incoming: DataFrame,
        _before_commit: Callable[[int], None] | None = None,
    ) -> UpsertStats:
        """MERGE: WHEN MATCHED THEN UPDATE (replace the row) / WHEN NOT
        MATCHED THEN INSERT — atomic under concurrent writers.

        Copy-on-write at file granularity, the shape storage-backed
        MERGE engines use: only data files containing at least one
        matched key are rewritten (their unmatched survivor rows +
        the whole incoming batch become new adds; the touched files are
        logical ``removes`` in the commit). Untouched files — the vast
        majority on a key-clustered 100 TB table — are never read past
        their key column or rewritten, and with a key-partitioned
        layout the matched-file probe prunes to the touched partitions.

        Concurrency: upserts don't commute (update-update and
        insert-update on one key are order-dependent), so a lost commit
        race discards the staged rewrite and RESTARTS from the fresh
        snapshot — the conservative row of Delta's conflict matrix.
        ``merge`` (blind insert) keeps its cheaper delta re-validation.

        ``_before_commit(version_about_to_claim)`` is the same test
        seam as ``merge``'s: runs once, after staging, before the
        commit-claim — the window a concurrent writer can win."""
        deduped = self._dedup_batch(incoming)
        n_batch = deduped.count()
        if n_batch == 0:
            # An empty (or dedup-to-empty) batch must not claim a no-op
            # commit version: it would pollute the log and shift the
            # CHECKPOINT_EVERY cadence. merge's inserted==0 short-circuit
            # is the same rule on the insert-only path.
            return UpsertStats(inserted=0, updated=0)
        for _ in range(_MAX_COMMIT_RETRIES):
            snap = current_snapshot(self.path)
            adds, removes, inserted, updated, stats = self._stage_upsert(
                deduped, snap, n_batch
            )
            if _before_commit is not None:
                _before_commit(snap.version + 1)
                _before_commit = None  # fire once
            if self._try_commit(
                snap.version + 1, adds, inserted, removes=removes, stats=stats
            ):
                log.info(
                    "txn upsert v%d to %s: %d inserted, %d updated, %d files rewritten",
                    snap.version + 1, self.path, inserted, updated, len(removes),
                )
                return UpsertStats(inserted=inserted, updated=updated)
            self._discard(adds)
        raise CommitConflictError(
            f"lost the commit race {_MAX_COMMIT_RETRIES} times on {self.path}"
        )

    def delete(
        self,
        condition,
        _before_commit: Callable[[int], None] | None = None,
    ) -> int:
        """DELETE WHERE — copy-on-write at file granularity, the
        GDPR/right-to-be-forgotten path a compliant 100 TB table must
        serve: only files containing at least one matching row are
        rewritten (their surviving rows become adds, the touched files
        become logical removes); untouched files are never read past
        the predicate columns or rewritten. Returns the deleted count.

        Same conservative concurrency as ``upsert``: deletes don't
        commute with concurrent writes to the same keys, so a lost
        commit race discards the staged rewrite and restarts from the
        fresh snapshot."""
        for _ in range(_MAX_COMMIT_RETRIES):
            snap = current_snapshot(self.path)
            if snap.version < 0 or not snap.files:
                return 0
            data = _data_dir(self.path)
            target = self.spark.read.option("mergeSchema", "true").parquet(
                *[str(data / f) for f in snap.files]
            )
            import os.path
            from urllib.parse import unquote, urlparse

            hits = (
                target.withColumn("_f", F.input_file_name())
                .filter(condition)
                .groupBy("_f")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            )
            touched = sorted(
                os.path.basename(unquote(urlparse(r._f).path)) for r in hits
            )
            n_deleted = sum(r.n for r in hits)
            if not touched:
                return 0
            # Survivors are rows where the predicate is NOT TRUE —
            # including NULL evaluations. A bare ~condition drops
            # NULL-predicate rows from BOTH sides (they match neither
            # filter), silently losing them in the rewrite.
            survivors = (
                self.spark.read.option("mergeSchema", "true")
                .parquet(*[str(data / f) for f in touched])
                .filter(~condition.eqNullSafe(True))
                .drop("created_at")
            )
            adds, _, stats = self._stage(survivors)
            if _before_commit is not None:
                _before_commit(snap.version + 1)
                _before_commit = None  # fire once
            if self._try_commit(
                snap.version + 1, adds, 0, removes=touched, stats=stats
            ):
                log.info(
                    "txn delete v%d from %s: %d rows, %d files rewritten",
                    snap.version + 1, self.path, n_deleted, len(touched),
                )
                return n_deleted
            self._discard(adds)
        raise CommitConflictError(
            f"lost the commit race {_MAX_COMMIT_RETRIES} times on {self.path}"
        )

    def delete_keys(
        self,
        keys_df: DataFrame,
        _before_commit: Callable[[int], None] | None = None,
    ) -> int:
        """DELETE by key set — the CDC tombstone apply path (a
        changelog's ``op='d'`` rows carry keys, not predicates). Same
        copy-on-write discipline as ``delete``: only files containing
        at least one matching key are rewritten, and the matched-file
        probe prunes to the files whose min/max key range overlaps the
        tombstone batch — on a key-clustered 100 TB table a day's
        deletes touch a day's files. Returns the number of rows
        removed. Concurrency: conservative restart from a fresh
        snapshot on a lost commit race, like ``delete``/``upsert``."""
        import os.path
        from urllib.parse import unquote, urlparse

        kdf = keys_df.select(*self.keys).dropDuplicates(self.keys)
        if kdf.count() == 0:
            return 0
        for _ in range(_MAX_COMMIT_RETRIES):
            snap = current_snapshot(self.path)
            if snap.version < 0 or not snap.files:
                return 0
            data = _data_dir(self.path)
            probe_files = _prune_files(snap, self._key_bounds(kdf))
            if not probe_files:
                return 0
            target = self.spark.read.option("mergeSchema", "true").parquet(
                *[str(data / f) for f in probe_files]
            )
            touched = sorted(
                os.path.basename(unquote(urlparse(r.f).path))
                for r in target.withColumn("f", F.input_file_name())
                .join(F.broadcast(kdf), on=self.keys, how="left_semi")
                .select("f")
                .distinct()
                .collect()
            )
            if not touched:
                return 0
            touched_df = self.spark.read.option("mergeSchema", "true").parquet(
                *[str(data / f) for f in touched]
            )
            n_deleted = (
                touched_df.join(F.broadcast(kdf), on=self.keys, how="left_semi")
                .count()
            )
            survivors = (
                touched_df.drop("created_at")
                .join(F.broadcast(kdf), on=self.keys, how="left_anti")
            )
            adds, _, stats = self._stage(survivors)
            if _before_commit is not None:
                _before_commit(snap.version + 1)
                _before_commit = None  # fire once
            if self._try_commit(
                snap.version + 1, adds, 0, removes=touched, stats=stats
            ):
                log.info(
                    "txn delete_keys v%d from %s: %d rows, %d files rewritten",
                    snap.version + 1, self.path, n_deleted, len(touched),
                )
                return n_deleted
            self._discard(adds)
        raise CommitConflictError(
            f"lost the commit race {_MAX_COMMIT_RETRIES} times on {self.path}"
        )

    @staticmethod
    def _zorder_column(df: DataFrame, cols: list[str], bits: int = 6):
        """Morton (Z-order) key over ``cols`` as a Column, built
        scalably: per-column quantile boundaries from the distributed
        ``approxQuantile`` sketch (driver receives 2^bits-1 values per
        column, never rows), each value mapped to its rank bucket by a
        broadcast-literal boundary array, and the bucket bits
        interleaved. Quantile (not min/max-linear) bucketing makes the
        curve skew-proof: each bucket holds ~1/2^bits of the data
        whatever the value distribution. Numeric and date/timestamp
        columns only — strings have no locality worth preserving."""
        probs = [i / (1 << bits) for i in range(1, 1 << bits)]

        def as_num(c: str):
            t = df.schema[c].dataType.typeName()
            if t == "date":
                return F.datediff(F.col(c), F.lit("1970-01-01")).cast("double")
            if t == "timestamp":
                return F.unix_timestamp(F.col(c)).cast("double")
            return F.col(c).cast("double")

        num = df.select(*[as_num(c).alias(f"__z_{c}") for c in cols])
        cuts = num.approxQuantile([f"__z_{c}" for c in cols], probs, 0.001)

        z = F.lit(0).cast("long")
        for dim, (c, bounds) in enumerate(zip(cols, cuts)):
            # rank bucket = #boundaries ≤ value (0..2^bits-1); dedup
            # keeps the when-chain short on low-cardinality columns
            bucket = F.lit(0).cast("long")
            for b in sorted(set(bounds)):
                bucket = bucket + (as_num(c) >= F.lit(b)).cast("long")
            bucket = F.least(bucket, F.lit((1 << bits) - 1))
            for i in range(bits):
                bit = F.shiftright(bucket, i).bitwiseAND(F.lit(1))
                z = z.bitwiseOR(
                    F.shiftleft(bit, i * len(cols) + dim).cast("long")
                )
        return z

    def compact(
        self,
        target_rows: int = 1_000_000,
        zorder_by: list[str] | None = None,
        _before_commit: Callable[[int], None] | None = None,
    ) -> tuple[int, int]:
        """OPTIMIZE — rewrite the live snapshot into ~``target_rows``-
        sized, KEY-SORTED files in one commit (adds = the packed
        files, removes = every old live file). Logically a no-op:
        ``read()`` before equals ``read()`` after, and history/time
        travel keep the old files. Physically it fixes the two things
        months of small keyed commits break at 100 TB:

        - per-file overhead (footer reads, task scheduling) — file
          count drops to ceil(rows/target);
        - stats quality — ``repartitionByRange`` on the key plus an
          in-partition sort gives files DISJOINT key ranges, turning
          the commit-log min/max skipping from best-effort (every
          append spans the domain) into near-exact (a point lookup
          opens one file).

        ``zorder_by`` switches the layout from key-sorted to a Morton
        (Z-order) curve over the named columns: files then cover
        compact regions of the MULTI-dimensional space, so min/max
        skipping prunes on EVERY listed column — including a predicate
        on the second dimension alone, which a lexicographic key sort
        cannot skip at all (every file spans the full second-key
        domain). The curve key is ``repartitionByRange``'d and sorted
        exactly like the key path, and dropped before staging; stats
        come from the parquet footers as usual. Use for tables queried
        by independent dimensions (key AND date, user AND region).

        Concurrency: conservative like ``upsert`` — a lost commit race
        discards the staged rewrite and restarts from the fresh
        snapshot; compaction is a background job and never wins races
        against foreground writes. Returns (files_before,
        files_after)."""
        for _ in range(_MAX_COMMIT_RETRIES):
            snap = current_snapshot(self.path)
            if snap.version < 0 or not snap.files:
                return (0, 0)
            data = _data_dir(self.path)
            live = self.spark.read.option("mergeSchema", "true").parquet(
                *[str(data / f) for f in snap.files]
            )
            n_rows = live.count()
            n_out = max(1, -(-n_rows // target_rows))
            body = live.drop("created_at")
            if zorder_by:
                packed = (
                    body.withColumn("__z", self._zorder_column(body, zorder_by))
                    .repartitionByRange(n_out, "__z")
                    .sortWithinPartitions("__z")
                    .drop("__z")
                )
            else:
                packed = body.repartitionByRange(n_out, *self.keys).sortWithinPartitions(
                    *self.keys
                )
            adds, _, stats = self._stage(packed)
            if _before_commit is not None:
                _before_commit(snap.version + 1)
                _before_commit = None  # fire once
            if self._try_commit(
                snap.version + 1, adds, 0, removes=list(snap.files), stats=stats
            ):
                log.info(
                    "txn compact v%d of %s: %d files -> %d",
                    snap.version + 1, self.path, len(snap.files), len(adds),
                )
                return (len(snap.files), len(adds))
            self._discard(adds)
        raise CommitConflictError(
            f"lost the commit race {_MAX_COMMIT_RETRIES} times on {self.path}"
        )

    def drop(self) -> bool:
        p = Path(self.path)
        if p.exists():
            shutil.rmtree(p)
            return True
        return False

    # -- internals ---------------------------------------------------

    def _dedup_batch(self, incoming: DataFrame) -> DataFrame:
        """Deterministic in-batch survivor — same rule as the plain
        writer (min over value columns) so the two table kinds agree."""
        value_cols = [c for c in incoming.columns if c not in self.keys]
        if not value_cols:
            return incoming.dropDuplicates(self.keys)
        from pyspark.sql import Window as W

        w = W.partitionBy(*self.keys).orderBy(*value_cols)
        return (
            incoming.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )

    def _key_bounds(self, batch: DataFrame) -> dict:
        """The incoming batch's (min, max) per key column — one tiny
        aggregate job that lets every existing-key probe prune the
        snapshot to the files whose key range overlaps the batch. A
        key with a null extreme (all-null column) contributes no bound."""
        aggs = []
        for k in self.keys:
            aggs.append(F.min(k).alias(f"__lo_{k}"))
            aggs.append(F.max(k).alias(f"__hi_{k}"))
        row = batch.agg(*aggs).collect()[0]
        bounds = {}
        for k in self.keys:
            lo, hi = row[f"__lo_{k}"], row[f"__hi_{k}"]
            if lo is not None and hi is not None:
                bounds[k] = (lo, hi)
        return bounds

    _PROBE_KEY_CAP = 10_000  # batch-key collect bound for bloom probing

    def probe_files_for(self, batch: DataFrame, snap: Snapshot | None = None) -> list[str]:
        """The snapshot files an existing-key probe for ``batch`` must
        read — range-pruned by the batch's key bounds, then (for
        batches of ≤ _PROBE_KEY_CAP distinct keys) bloom-pruned per
        file: a file survives only if, for EVERY key column carrying a
        bitmap, at least one batch value maybe-hits it. Sound for
        composite keys: a present composite key hits every column's
        bloom, so a file failing any column test provably holds no
        batch key. This is what makes a small CDC merge against a big
        unsorted table open a handful of files instead of the key
        range's worth."""
        if snap is None:
            snap = current_snapshot(self.path)
        if snap.version < 0:
            return []
        keep = _prune_files(snap, self._key_bounds(batch))
        if len(keep) <= 1:
            return keep
        # no surviving file carries a bitmap (e.g. a fully compacted
        # table, every file past the bloom cap) → collecting batch keys
        # could never prune anything; skip the extra job
        if not any(
            f"bloom:{k}" in (snap.stats.get(f) or {})
            for f in keep
            for k in self.keys
        ):
            return keep
        rows = (
            batch.select(*self.keys)
            .dropDuplicates(self.keys)
            .limit(self._PROBE_KEY_CAP + 1)
            .collect()
        )
        if len(rows) > self._PROBE_KEY_CAP:
            return keep  # bulk load — bloom testing cost exceeds its win
        import base64

        col_vals = {
            k: {r[k] for r in rows if r[k] is not None} for k in self.keys
        }
        out = []
        for f in keep:
            st = snap.stats.get(f) or {}
            survives = True
            for k, vals in col_vals.items():
                b64 = st.get(f"bloom:{k}")
                if not isinstance(b64, str) or not vals:
                    continue
                bits = base64.b64decode(b64)
                if not any(
                    all(
                        bits[i >> 3] & (1 << (i & 7))
                        for i in _file_bloom_indexes(v)
                    )
                    for v in vals
                ):
                    survives = False
                    break
            if survives:
                out.append(f)
        return out

    def _against(self, batch: DataFrame, snap: Snapshot) -> DataFrame:
        if snap.version < 0:
            return batch
        # Files whose key range can't overlap the batch can't hold a
        # colliding key — prune them from the probe (a batch touching
        # one day of a key-clustered table probes that day's files);
        # small batches prune further by the per-file key blooms.
        keep = self.probe_files_for(batch, snap)
        if not keep:
            return batch
        paths = [str(_data_dir(self.path) / f) for f in keep]
        # mergeSchema + null-fill: a key column added by schema
        # evolution is absent from pre-evolution files — those rows
        # probe as null (never equal under the anti-join's = semantics,
        # so they can't suppress an insert, which is the conservative
        # direction for first-wins)
        existing = self.spark.read.option("mergeSchema", "true").parquet(
            *paths
        )
        for k in self.keys:
            if k not in existing.columns:
                existing = existing.withColumn(k, F.lit(None))
        existing = existing.select(*self.keys).dropDuplicates(self.keys)
        return batch.join(existing, on=self.keys, how="left_anti")

    def _stage(self, new_rows: DataFrame) -> tuple[list[str], int, dict]:
        """Write the increment as immutable UUID-named parts directly in
        data/ — unreferenced files are invisible, so no rename step is
        needed (this is the object-store-friendly property: parquet
        parts upload once and are published by the tiny commit PUT).
        Per-file min/max stats come from the freshly written footers —
        the same footer pass that counts rows, no data read."""
        _data_dir(self.path).mkdir(parents=True, exist_ok=True)
        staging = Path(self.path) / f"_staging_{uuid.uuid4().hex}"
        stamped = new_rows.withColumn("created_at", F.current_timestamp())
        stamped.write.mode("overwrite").parquet(str(staging))
        # drop zero-row parts before publishing: they carry no data but
        # WOULD pin their (possibly pre-evolution) schema into every
        # future mergeSchema read and key probe — a full-table delete's
        # survivor rewrite must leave NO file behind, or a later merge
        # anti-joins against a schema the live rows no longer have
        import pyarrow.parquet as pq_

        parts = []
        for part in sorted(staging.glob("*.parquet")):
            if pq_.ParquetFile(part).metadata.num_rows == 0:
                part.unlink()
            else:
                parts.append(part)
        inserted = _footer_row_count(parts)
        part_stats = _footer_stats(parts)
        part_blooms = _file_blooms(parts, self.keys)
        names: list[str] = []
        stats: dict[str, dict[str, list]] = {}
        run_id = staging.name.removeprefix("_staging_")
        for part in parts:
            name = f"{run_id}-{part.name}"
            part.rename(_data_dir(self.path) / name)
            names.append(name)
            stats[name] = part_stats[part.name]
            for col, b64 in part_blooms.get(part.name, {}).items():
                stats[name][f"bloom:{col}"] = b64
        shutil.rmtree(staging, ignore_errors=True)
        return names, inserted, stats

    def _discard(self, staged: list[str]) -> None:
        for name in staged:
            (_data_dir(self.path) / name).unlink(missing_ok=True)

    def _stage_upsert(
        self, batch: DataFrame, snap: Snapshot, n_batch: int
    ) -> tuple[list[str], list[str], int, int, dict]:
        """Stage the copy-on-write rewrite for ``upsert`` against one
        pinned snapshot. Returns (adds, removes, inserted, updated,
        stats).

        The matched-file probe is a semi-join of the target's key
        column (tagged with ``input_file_name``) against the batch
        keys — it collects only distinct FILE NAMES, bounded by the
        snapshot's file count, never rows; the commit-log min/max
        stats prune it further to the files whose key range overlaps
        the batch (a matched key can only live there)."""
        import os.path
        from urllib.parse import unquote, urlparse

        if snap.version < 0:
            adds, inserted, stats = self._stage(batch)
            return adds, [], inserted, 0, stats
        data = _data_dir(self.path)
        probe_files = _prune_files(snap, self._key_bounds(batch))
        if not probe_files:
            adds, inserted, stats = self._stage(batch)
            return adds, [], inserted, 0, stats
        target = self.spark.read.parquet(*[str(data / f) for f in probe_files])
        keys_df = batch.select(*self.keys).dropDuplicates(self.keys)
        touched = sorted(
            os.path.basename(unquote(urlparse(r.f).path))
            for r in target.withColumn("f", F.input_file_name())
            .join(F.broadcast(keys_df), on=self.keys, how="left_semi")
            .select("f")
            .distinct()
            .collect()
        )
        # Every matched key lives in a touched file by construction, so
        # the updated-count probe reads ONLY the touched files — not a
        # second full-snapshot key scan (the probe above is the one
        # whole-table pass this merge pays).
        if touched:
            updated = (
                self.spark.read.option("mergeSchema", "true")
                .parquet(*[str(data / f) for f in touched])
                .select(*self.keys)
                .dropDuplicates(self.keys)
                .join(F.broadcast(keys_df), on=self.keys, how="left_semi")
                .count()
            )
        else:
            updated = 0
        if touched:
            survivors = (
                self.spark.read.option("mergeSchema", "true")
                .parquet(*[str(data / f) for f in touched])
                .drop("created_at")
                .join(F.broadcast(keys_df), on=self.keys, how="left_anti")
            )
            # allowMissingColumns: an incoming batch may carry a NEW
            # column (additive schema evolution) — survivors read it
            # as null; read() merges schemas on the way back out.
            staged_rows = survivors.unionByName(batch, allowMissingColumns=True)
        else:
            staged_rows = batch
        adds, _, stats = self._stage(staged_rows)
        return adds, touched, n_batch - updated, updated, stats

    def _try_commit(
        self,
        version: int,
        adds: list[str],
        inserted: int,
        removes: list[str] | None = None,
        stats: dict[str, dict[str, list]] | None = None,
    ) -> bool:
        _log_dir(self.path).mkdir(parents=True, exist_ok=True)
        target = _commit_file(self.path, version)
        entry = {
            "version": version,
            "adds": adds,
            "removes": removes or [],
            "inserted": inserted,
            "stats": stats or {},
            "ts": time.time(),
        }
        # Publish atomically: the old claim-then-write (O_EXCL create,
        # THEN write the JSON) left a window where a concurrent
        # current_snapshot globs the claimed file and json.loads an
        # empty/partial body — the r11 full-suite flake, reproduced in
        # <1 s by tests/test_txn_table.py::
        # test_concurrent_snapshot_readers_never_see_torn_commits.
        # Now the complete payload lands in a private tmp (underscore
        # prefix — invisible to the [0-9]* log globs), fsyncs, and
        # os.link claims the version name: link(2) is atomic, so a
        # visible commit file ALWAYS carries its full JSON, and EEXIST
        # is the lost-race signal. A writer killed mid-commit leaves
        # only a tmp, never a torn version file; the directory fsync
        # below extends the guarantee from process crashes to power
        # loss (the dirent itself made durable — r13 advisor).
        tmp = target.with_name(f"_commit_{uuid.uuid4().hex}.json.tmp")
        fd = os.open(tmp, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        try:
            os.write(fd, json.dumps(entry).encode())
            os.fsync(fd)
        finally:
            os.close(fd)
        try:
            os.link(tmp, target)
        except FileExistsError:
            tmp.unlink(missing_ok=True)
            return False
        except OSError as e:
            # filesystem without hard-link support (r13 advisor): fall
            # back to exists-probe + rename. rename(2) is just as
            # atomic for READERS (no torn commit file), but silently
            # overwrites, so the duplicate-version race detection is
            # only probe-strength here — acceptable on single-writer
            # exotic mounts, and strictly better than failing the
            # commit outright. Only the links-not-supported errnos
            # take this path; anything else (EIO, ...) propagates as
            # the crash it is, with the tmp cleaned up.
            if e.errno not in (
                errno.EPERM,
                errno.EOPNOTSUPP,
                errno.ENOSYS,
                errno.ENOTSUP,
            ):
                tmp.unlink(missing_ok=True)
                raise
            if target.exists():
                tmp.unlink(missing_ok=True)
                return False
            os.replace(tmp, target)
        else:
            tmp.unlink(missing_ok=True)
        _fsync_dir(_log_dir(self.path))
        if version % CHECKPOINT_EVERY == 0 and version > 0:
            snap = current_snapshot(self.path, version)
            ck = _checkpoint_file(self.path, version)
            ck_tmp = ck.with_name(f"_ck_{uuid.uuid4().hex}.json.tmp")
            ck_payload = json.dumps(
                {
                    "version": version,
                    "files": list(snap.files),
                    "stats": snap.stats,
                }
            ).encode()
            ck_fd = os.open(ck_tmp, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            try:
                # fsync BEFORE the rename — a power loss may persist the
                # rename but not un-synced data, and a torn checkpoint in
                # the [0-9]*.checkpoint.json namespace bricks every
                # subsequent replay (same rule as the commit file above)
                os.write(ck_fd, ck_payload)
                os.fsync(ck_fd)
            finally:
                os.close(ck_fd)
            # rename is atomic on POSIX; checkpoints are idempotent
            # re-derivations of the log, so last-writer-wins is fine.
            os.replace(ck_tmp, ck)
            _fsync_dir(_log_dir(self.path))
        return True

    def _revalidate(
        self,
        staged: list[str],
        inserted: int,
        stats: dict,
        delta_files: list[str],
    ) -> tuple[list[str], int, dict]:
        """Drop staged rows whose key was inserted by the commits we
        lost to. If nothing overlaps (the common case — writers usually
        touch disjoint keys), the staged files are reused as-is."""
        if not delta_files or inserted == 0:
            return staged, inserted, stats
        mine = self.spark.read.parquet(
            *[str(_data_dir(self.path) / f) for f in staged]
        )
        theirs = (
            self.spark.read.parquet(
                *[str(_data_dir(self.path) / f) for f in delta_files]
            )
            .select(*self.keys)
            .dropDuplicates(self.keys)
        )
        survivors = mine.join(theirs, on=self.keys, how="left_anti")
        n_surv = survivors.count()
        if n_surv == inserted:
            return staged, inserted, stats
        old = list(staged)
        if n_surv == 0:
            self._discard(old)
            return [], 0, {}
        # survivors references the staged files, so materialize the
        # rewrite before discarding them.
        restaged, n, restats = self._stage(survivors.drop("created_at"))
        self._discard(old)
        return restaged, n, restats


def vacuum(path: str, retain_seconds: float = 7 * 24 * 3600.0) -> list[str]:
    """Delete data files not referenced by ANY committed version —
    the garbage left by crashed writers (staged but never committed)
    — once they are older than ``retain_seconds``.

    The retention window is the same safety rule as Delta's VACUUM
    default (7 days): a file younger than the window might belong to
    a writer that is mid-merge RIGHT NOW (staged, about to claim a
    commit), so deleting it would corrupt that writer's commit. Past
    the window, an uncommitted file can only be a crash leftover —
    every live merge stages and commits in one call.

    Committed files are NEVER candidates regardless of age: the log,
    not mtime, is the source of truth — and "committed" means added by
    ANY version, not just referenced by the latest snapshot. Upsert /
    delete commits logically REMOVE files from the current snapshot
    while older versions still reference them; vacuuming those would
    corrupt time travel and ``diff``. (Delta's VACUUM does reclaim
    removed files past retention at the cost of old versions; this one
    keeps full history — bounded because copy-on-write only rewrites
    touched files. A history-truncating reclaim would belong in
    ``maintenance.py`` alongside compaction.) Returns deleted names.
    """
    import time as _time

    live: set[str] = set()
    ld = _log_dir(path)
    if ld.exists():
        for p in ld.glob("[0-9]*.json"):
            entry = json.loads(p.read_text())
            live.update(entry.get("adds", ()))
            live.update(entry.get("files", ()))  # checkpoints
    dd = _data_dir(path)
    cutoff = _time.time() - retain_seconds
    deleted = []
    # a writer killed between staging its commit tmp and the link claim
    # leaves `_*.json.tmp` in the log dir — invisible to replay (the
    # [0-9]* globs skip it) but worth reaping once aged out
    if ld.exists():
        for t in ld.glob("_*.tmp"):
            if t.stat().st_mtime < cutoff:
                t.unlink(missing_ok=True)
                deleted.append(t.name)
    for f in dd.glob("*.parquet") if dd.exists() else ():
        if f.name in live:
            continue
        if f.stat().st_mtime < cutoff:
            f.unlink()
            deleted.append(f.name)
    if deleted:
        log.info("vacuumed %d orphan files from %s", len(deleted), path)
    return sorted(deleted)
